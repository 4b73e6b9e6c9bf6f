"""CI smoke for bench.py's control flow.

r14 shipped BENCH_r14.json as ``rc: 1, parsed: null``: the
``--write-artifact`` refactor left ``artifact`` unbound on the flag-less
path — exactly how the driver invokes bench.py — and nothing in CI
executed that path (r14 verdict #1). This test runs ``bench.py
--dry-run`` (full argument/artifact/summary control flow, no Spark, no
testdata) and asserts the contract the driver depends on: exit 0 and a
final stdout line that parses as the short summary record.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*flags: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *flags],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )


def test_bench_flagless_path_exits_zero_with_parseable_tail():
    proc = _run("--dry-run")
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) >= 2, proc.stdout
    full = json.loads(lines[-2])
    summary = json.loads(lines[-1])
    assert summary["metric"] == "headline_suite_total"
    assert summary["unit"] == "sec"
    assert summary["detail"] == "not-written"  # flag-less: no artifact
    assert summary["n_queries"] == len(full["queries"])
    assert set(full) >= {"metric", "value", "unit", "queries", "sf"}


def test_bench_dry_run_never_writes_artifact():
    # --write-artifact + --dry-run must not clobber the committed
    # artifact of record with a zero-filled record
    before = os.path.getmtime(os.path.join(REPO, "BENCH_local.json"))
    proc = _run("--dry-run", "--write-artifact")
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.splitlines()[-1])
    assert summary["detail"] == "not-written"
    assert os.path.getmtime(os.path.join(REPO, "BENCH_local.json")) == before


def test_bench_summary_line_is_self_contained_and_fits_tail_window():
    """r17 verdict #2: the driver records only a 2000-char stdout tail
    (measured across BENCH_r12-r17) and parses its LAST JSON line; the
    summary line must therefore (a) stay under the window with margin
    and (b) carry the FULL per-query map, compressed, so cross-round
    per-query diffs never depend on the committed BENCH_local.json."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_decode import decode_queries_z

    proc = _run("--dry-run")
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    full = json.loads(lines[-2])
    summary = json.loads(lines[-1])
    assert len(lines[-1]) <= 1980, len(lines[-1])
    assert summary["codec"] == "zlib+b85"
    # the compressed map carries 2dp (10 ms granularity, an order under
    # the host-variance band); BENCH_local.json keeps the 3dp record
    assert decode_queries_z(summary["queries_z"]) == {
        k: round(v, 2) for k, v in full["queries"].items()
    }


def test_bench_decode_handles_driver_artifact_shape(tmp_path):
    # the driver wraps the parsed summary as {n, rc, tail, parsed}
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import zlib, base64
    from bench_decode import load_artifact

    qmap = {"q1": 1.25, "q2": 0.5}
    qz = base64.b85encode(
        zlib.compress(json.dumps(qmap, separators=(",", ":")).encode(), 9)
    ).decode()
    art = tmp_path / "BENCH_rX.json"
    art.write_text(json.dumps({
        "n": 99, "rc": 0,
        "parsed": {"metric": "headline_suite_total", "value": 1.75,
                   "codec": "zlib+b85", "queries_z": qz},
    }))
    rec = load_artifact(str(art))
    assert rec["queries"] == qmap and "queries_z" not in rec


def test_bench_decode_compare_normalizes_by_control_pair():
    """r19 (r18 verdict #1): compare() derives the normalized ratio
    purely from two per-query records — raw common-set ratio over the
    control-pair host ratio — with movers ranked by |delta|. Hand
    numbers: common {a, b, ctl}, sums 4.0 vs 2.0 (raw 2.0), control
    1.0 vs 0.5 (ctl 2.0) -> normalized 1.0."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_decode import compare

    curr = {
        "queries": {"a": 2.0, "b": 1.0, "ctl": 1.0, "only_curr": 9.0},
        "control": {"ctl": 1.0},
    }
    prev = {
        "queries": {"a": 0.5, "b": 1.0, "ctl": 0.5, "only_prev": 9.0},
        "control": {"ctl": 0.5},
    }
    out = compare(curr, prev)
    assert out["n_common"] == 3
    assert out["raw_ratio"] == 2.0
    assert out["control_ratio"] == 2.0
    assert out["normalized_vs_prev"] == 1.0
    # movers over the COMMON set only, |delta|-ranked
    assert out["movers"][0] == {"q": "a", "delta": 1.5}
    assert all(m["q"] in ("a", "b", "ctl") for m in out["movers"])


def test_bench_decode_salvages_pre_r18_tail(tmp_path):
    """Pre-r18 driver artifacts have no queries_z; load_artifact must
    salvage per-query pairs from the tail's full-line fragment so
    --compare against them still yields an honest common-set ratio."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_decode import load_artifact

    tail = (
        '"q_alpha": 1.25, "q_beta": 0.5}, "sf": 0.1, '
        '"control": {"q_alpha": 1.25}}\n'
        '{"metric":"headline_suite_total","value":1.75,"unit":"sec",'
        '"sf":0.1,"n_queries":2,"detail":"not-written",'
        '"control":{"q_alpha":1.25}}'
    )
    art = tmp_path / "BENCH_rY.json"
    art.write_text(json.dumps({
        "n": 17, "rc": 0, "tail": tail,
        "parsed": {"metric": "headline_suite_total", "value": 1.75,
                   "control": {"q_alpha": 1.25}},
    }))
    rec = load_artifact(str(art))
    assert rec["queries_salvaged_from_tail"] is True
    assert rec["queries"] == {"q_alpha": 1.25, "q_beta": 0.5}


def test_bench_summary_names_plain_perquery_detail_file():
    """r20 verdict #1: the driver cannot decode queries_z and the plain
    map cannot fit the 2000-char tail window (113 names = 2093 chars
    alone), so real runs ALWAYS write the full plain record to
    BENCH_detail.json (suffixed off the canonical env) and the summary
    line names it under pq_file. Dry-run must not write the file."""
    detail = os.path.join(REPO, "BENCH_detail.json")
    before = os.path.getmtime(detail) if os.path.exists(detail) else None
    proc = _run("--dry-run")
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["pq_file"] == "not-written"  # dry-run: no file
    after = os.path.getmtime(detail) if os.path.exists(detail) else None
    assert before == after


def test_bench_summary_carries_normalized_and_control_drift_fields():
    """r19 (r18 verdict #1+#5): the driver-captured summary line must
    carry normalized_vs_prev and the suite start/end control pair."""
    res = _run("--dry-run")
    assert res.returncode == 0
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    for key in ("normalized_vs_prev", "nvp_prev", "control_start", "control_end"):
        assert key in rec, key
    assert len(rec["control_start"]) == 2 and len(rec["control_end"]) == 2


def test_bench_base_is_the_highest_integer_round(tmp_path):
    """The comparison base is the artifact of the highest ROUND, not the
    lexically last file name: as strings, BENCH_r100 sorts before
    BENCH_r21 and BENCH_r10 before BENCH_r9. Suffixed artifacts (another
    env) are never a base."""
    import importlib.util

    for name in ("BENCH_r9.json", "BENCH_r100.json", "BENCH_r10.json",
                 "BENCH_r21.json", "BENCH_r21_c8.json", "BENCH_local.json"):
        (tmp_path / name).write_text("{}")
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    arts = [os.path.basename(p) for p in bench._round_artifacts(str(tmp_path))]
    assert arts == ["BENCH_r9.json", "BENCH_r10.json", "BENCH_r21.json",
                    "BENCH_r100.json"]
