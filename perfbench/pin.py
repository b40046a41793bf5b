#!/usr/bin/env python3
"""Re-pin perfbench/pins.json from an oracle-checked Verify dump.

Run from the repository root, after dumping the workload queries (and the
twins TWINS.json lists for any rows-only query among them) at sf0.1 and
checking the dump against DuckDB:

    sbt "runMain graft.Verify perfbench/data/sf0.1 DUMP q32_scalar_funcs,..."
    python3 tools/check_oracle.py perfbench/data/sf0.1 DUMP > ORACLE_LOG
    python3 perfbench/pin.py DUMP ORACLE_LOG

A query is pinned only if it passed the oracle, or it is rows-only and every
twin listed for it passed, and only if its live fingerprint equals the
fingerprint of its dumped result.
"""
import json
import os
import subprocess
import sys
import time

import run


def main(dump, oracle_log):
    root = os.getcwd()
    with open(oracle_log) as f:
        passed = {ln.split()[1] for ln in f if ln.startswith("PASS ")}
    with open(os.path.join(root, "TWINS.json")) as f:
        twins = {k: v["twins"] for k, v in json.load(f).items() if not k.startswith("_")}
    queries = sorted({q for qs in run.WORKLOADS.values() for q in qs})
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    cp = run.build(root, build_dir, time.time() + 900)
    out = os.path.join(build_dir, "pin.json")
    tmp = os.path.join(root, ".bench_out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(
        ["java"] + [x for p in run.JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
        run.HEAP + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Harness", "--mode", "pin",
         "--data", os.path.join(run.BENCH, "data", "sf0.1"), "--out", out,
         "--queries", ",".join(queries), "--cores", "4", "--dump", dump],
        check=True, env=dict(os.environ, GRAFT_TMP_ROOT=tmp))
    with open(out) as f:
        fps = json.load(f)
    pins, bad = {}, []
    for q in queries:
        live, dumped = fps[q]["live"].get("fp"), (fps[q]["dump"] or {}).get("fp")
        if q in passed:
            basis = "oracle"
        elif q in twins and all(t in passed for t in twins[q]):
            basis = "twins " + ",".join(twins[q])
        else:
            bad.append((q, "not oracle-checked"))
            continue
        if live is None or live != dumped:
            bad.append((q, "live %s != dump %s" % (live, dumped)))
            continue
        pins[q] = {"fp": live, "basis": basis}
    if bad:
        sys.exit("not pinned: %s" % bad)
    with open(os.path.join(run.BENCH, "pins.json"), "w") as f:
        json.dump({
            "_comment": "Output fingerprints: [row count, sum of xxhash64(all columns) mod "
                        "2^31-1, bit_xor of xxhash64(all columns)], from a graft.Verify dump "
                        "of perfbench/data/sf0.1 that tools/check_oracle.py passed (rows-only "
                        "queries: every TWINS.json twin passed). Regenerate with pin.py.",
            "queries": pins}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
