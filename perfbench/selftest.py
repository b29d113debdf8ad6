#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at a small scale, untraced and traced,
and asserts that each run exits 0 with every output check passing, that it
started from the class-data-sharing archive, and that it emits every metric
BENCHMARK.json names (end-to-end untraced, per-layer traced) with its unit.
A traced run must measure exactly the layers its workload exercises (below);
the other per-layer names, which the result line carries as 0, must be the
ones its run record lists as not exercised. The scan_serve lookups must miss
the bloom-prover cache. Then asserts that the benchmark refuses to run, with
no result line, in a directory holding only BENCHMARK.json and the
benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.2"
SECONDS = "3"
# per-layer metric prefixes each workload measures (the "on" column of the
# layer table in README.md)
EXERCISED = {
    "ingest_refresh": ("core.AppendOp.", "core.DmlOps.", "core.Storage.", "core.CompactOp.",
                       "core.RewriteManifestsOp.", "core.GcOps.", "maintenance.", "views.",
                       "spark.", "trace."),
    "scan_serve": ("core.ReadOp.", "core.RandomAccess.", "core.BloomPruning.", "operators.",
                   "spark.", "trace."),
}


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", SECONDS, "--trace", trace, "--scale", SCALE]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def run_record(stderr):
    """The run record whose path run.py logs on stderr, or {}."""
    for line in stderr.splitlines():
        if line.startswith("[perfbench] run record: "):
            with open(os.path.join(ROOT, line.split(": ", 1)[1])) as fh:
                return json.load(fh)
    return {}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {"0": bench["end_to_end"], "1": bench["per_layer"]}
    problems = []
    for w in bench["workloads"]:
        for trace in ("0", "1"):
            p = run(ROOT, w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted[trace]}
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
            for m in wanted[trace]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or wrong unit: {got}")
            rec = run_record(p.stderr)
            if "sharing" not in rec.get("java_vm_info", "") or not rec.get("cds_archive"):
                problems.append(f"{tag}: no class-data-sharing archive: "
                                f"{rec.get('java_vm_info')} {rec.get('cds_archive')}")
            if trace == "1":
                idle = sorted(m["name"] for m in wanted[trace]
                              if not m["name"].startswith(EXERCISED[w["name"]]))
                if sorted(rec.get("per_layer_not_exercised", [])) != idle:
                    problems.append(f"{tag}: not-exercised layers "
                                    f"{rec.get('per_layer_not_exercised')}, expected {idle}")
                opens = res["metrics"].get("core.BloomPruning.footer_opens_per_lookup", {})
                if w["name"] == "scan_serve" and not opens.get("value", 0) > 0:
                    problems.append(f"{tag}: bloom lookups hit the prover cache: {opens}")
            print(f"ok {tag}: attempted {res['attempted']}", flush=True)

    # the benchmark alone (no engine sources) must fail without a result
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    def build_outputs(d, names):
        skip = {"target", "__pycache__", ".bsp"}
        if os.path.basename(d) == "project":
            skip.add("project")
        return [n for n in names if n in skip]
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=build_outputs)
    p = run(bare, bench["workloads"][0]["name"], "0")
    if p.returncode == 0 or any(l.startswith("{") for l in p.stdout.splitlines()):
        problems.append("bare checkout: expected a non-zero exit and no result line")
    else:
        print("ok bare checkout refused", flush=True)
    shutil.rmtree(bare, ignore_errors=True)

    for pr in problems:
        print("FAIL", pr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
