#!/usr/bin/env python3
"""Cross-check the harness's city generator against an independent decoder.

Run from the root of a graft checkout:

    python3 perfbench/test_citygen.py

For a few seeds the harness writes the osm_full city with the engine's
PbfWriter and prints the element counts, id sums, tag counts and ref sum it
generated; tools/pbf_groundtruth.py (a stdlib-only PBF decoder) must read the
same numbers back from the file. Exits non-zero on any difference.
"""
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DECODER = os.path.join(run.ROOT, "tools", "pbf_groundtruth.py")


def decoded(pbf):
    out = subprocess.run([sys.executable, DECODER, pbf], check=True,
                         capture_output=True, text=True, timeout=300).stdout
    got = {}
    for kind, count, id_sum, tags in re.findall(
            r"^(node|way|relation): count=(\d+) id_sum=(-?\d+) tags=(\d+)$",
            out, re.M):
        got[kind] = {"count": int(count), "id_sum": int(id_sum), "tags": int(tags)}
    got["ref_sum"] = int(re.search(r"^ref_sum: (-?\d+)$", out, re.M).group(1))
    return got


def main():
    if not os.path.isfile(DECODER):
        run.fail(f"independent decoder not found: {DECODER}")
    cp = run.build(timeout=700)
    work = os.path.join(run.WORK, "citygen-test")
    os.makedirs(work, exist_ok=True)
    bad = 0
    for seed in (1, 7, 42):
        pbf = os.path.join(work, f"city{seed}.osm.pbf")
        log = os.path.join(work, f"emit{seed}.log")
        if run.run_bounded(run.java_cmd(cp, work, ["--emit-city", pbf, "--seed", str(seed)]),
                           run.ROOT, log, 120) != 0:
            sys.stderr.write(run.tail(log))
            run.fail(f"harness could not write the city for seed {seed}")
        with open(log) as f:
            want = json.loads([l for l in f if l.startswith("{")][-1])
        got = decoded(pbf)
        for key in ("node", "way", "relation", "ref_sum"):
            ok = got[key] == want[key]
            bad += not ok
            print(f"seed {seed} {key}: {'ok' if ok else 'MISMATCH'} "
                  f"generated={want[key]} decoded={got[key]}")
        sane = 0 < want["full_features"] < sum(want[k]["count"]
                                               for k in ("node", "way", "relation"))
        bad += not sane
        print(f"seed {seed} features: {want['full_features']} "
              f"{'ok' if sane else 'MISMATCH'}")
    print("FAIL" if bad else "OK")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
