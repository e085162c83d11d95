#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: every workload in BENCHMARK.json) it runs the
benchmark on tiny inputs, untraced and traced, and asserts that:
  * the output checks pass (correct, no failed operation);
  * every end-to-end metric of BENCHMARK.json is in the summary line with
    its unit, and the workload's own metrics (run_s, msgs_per_s or
    tokens_per_s, tick percentiles, fail_share) are printed with their units;
  * the traced run reports every per-layer metric with its unit, and the
    layer spans cover at least 90% of the traced operations' wall time;
  * the output carries a stamp (git sha, dirty flag, nproc, seed);
  * the generator is byte-identical for the same seed (record digest), and
    the parquet files it writes decode to equal tables.
Exits non-zero on the first failure.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SEED = 5
SCALE = "0.05"

OWN = {
    "assign_bulk": {"run_s": "s", "msgs_per_s": "msg/s", "fail_share": "ratio"},
    "subscribe_ticks": {"run_s": "s", "msgs_per_s": "msg/s", "tick_ms_p50": "ms", "tick_ms_p75": "ms",
                        "fail_share": "ratio"},
    "curate_corpus": {"run_s": "s", "tokens_per_s": "tok/s", "fail_share": "ratio"},
}


def run(*args):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}")
    return [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]


def check_run(workload, trace, wanted):
    out = run("--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
              "--scale", SCALE)
    result = out[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, result
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted, f"{workload} trace={trace}: summary metrics differ: {set(got) ^ set(wanted)}"
    lines = {o["metric"]: o for o in out if "metric" in o}
    for name, unit in wanted.items():
        assert lines[name]["unit"] == unit and lines[name]["workload"] == workload, name
    stamp = next(o["stamp"] for o in out if "stamp" in o)
    for k in ("git_sha", "dirty", "nproc", "seed"):
        assert k in stamp, k
    assert stamp["seed"] == SEED
    return lines


def parquet_tables(data_dir):
    """Every generated parquet file, decoded, by directory. Spark's part-file
    names carry a random id, and parquet-mr writes a column chunk's encoding
    list in hash-set order, so equal records need not give equal file bytes;
    the records themselves are compared byte for byte through the digest."""
    import pyarrow.parquet as pq
    files = [p for p in Path(data_dir).rglob("*.parquet") if p.is_file()]
    return {str(p.parent.relative_to(data_dir)): pq.read_table(p) for p in files}


def check_determinism(workload):
    digests, tables = [], []
    for tag in ("selftest-a", "selftest-b"):
        out = run("--workload", workload, "--seed", str(SEED), "--seconds", "1", "--scale", SCALE,
                  "--gen-only", "1", "--cache-tag", tag)
        info = out[-1]
        digests.append(info["inputs"]["digest"])
        tables.append(parquet_tables(info["data"]))
    assert digests[0] == digests[1], f"{workload}: generator digests differ"
    a, b = tables
    assert a and a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a), \
        f"{workload}: generated files differ"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        lines = check_run(w, 0, end_to_end)
        for name, unit in OWN[w].items():
            assert name in lines and lines[name]["unit"] == unit, f"{w}: {name} missing or wrong unit"
        assert lines["fail_share"]["value"] == 0
        layers = check_run(w, 1, per_layer)
        cov = layers["trace.coverage"]["value"]
        assert cov >= 0.9, f"{w}: layer spans cover {cov:.3f} of the traced wall time"
        check_determinism(w)
        print(f"selftest {w}: ok (span coverage {cov:.3f})", flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
