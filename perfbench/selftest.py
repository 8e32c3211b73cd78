#!/usr/bin/env python3
"""Show that every output check fires: run each workload with one output
deliberately corrupted and require the run to report correct=false with
failed operations. Run from the repository root:

  python3 perfbench/selftest.py [--seed N]

The digest checks compare against perfbench/expected.json, so the seed
must be one recorded there (the default, 1, is).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORRUPTIONS = {
    "crawl-small": ["compact-dup", "fetch-log", "seen-seed", "schedule-interp", "crawl-digest"],
    "corpus-ops": ["query:dedup_minhash_lsh", "query:q8_search_summary"],
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for workload, names in CORRUPTIONS.items():
        for name in names:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                                "--seed", str(args.seed), "--seconds", "10", "--trace", "0",
                                "--corrupt", name], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{workload} {name}: run failed (exit {p.returncode})")
                ok = False
                continue
            res = json.loads(lines[-1])
            checks = next(json.loads(l)["checks"] for l in lines if l.startswith('{"checks"'))
            fired = [c["name"] for c in checks if not c["ok"]]
            caught = res["correct"] is False and res["failed"] > 0
            ok &= caught
            print(f"{workload} {name}: {'caught' if caught else 'MISSED'} "
                  f"(failed {res['failed']}/{res['attempted']}, checks fired: {', '.join(fired) or 'none'})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
