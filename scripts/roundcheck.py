"""One-command round-boundary ritual (VERDICT r8 item 7): runs the
full pre-round verification battery as sequential subprocesses and
prints a single PASS/FAIL summary. Replaces five manual steps — the
repo's only recurring risk was forgetting one.

Steps (each its own process, so Spark sessions never collide):
  1. preverify --sweep 50          driver's exact next-round slate
  2. preverify --chunk i 4  (x4)   full-registry differential audit
  3. layout_scan --chunk i 4 (x4)  partition-layout determinism scan
  4. bench.py (internally best-of-3) headline + per-run spread

Usage:  python scripts/roundcheck.py [--skip-bench] [--skip-layout]
                                     [--sweep-only]
        python scripts/roundcheck.py --help
An unknown flag exits with code 2 before any step starts.

Exit code 0 only if every step passed. Honest-reporting rule: the
summary reprints each step's verdict verbatim — a failed step is
never collapsed into a warning.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
import time

ROOT = __file__.rsplit("/", 2)[0]


def run(label: str, cmd: list[str]) -> tuple[str, bool, float, str]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, *cmd], cwd=ROOT, capture_output=True, text=True
    )
    out = p.stdout + p.stderr
    ok = p.returncode == 0
    # summary line: prefer the step's own verdict line (ALL MATCH /
    # FAILED / LAYOUT-SENSITIVE / the bench JSON); fall back to the
    # last line that isn't log4j/stage-progress noise
    verdicts = [
        ln for ln in out.strip().splitlines()
        if re.search(r"ALL MATCH|FAILED:|LAYOUT-SENSITIVE|headline_total", ln)
    ]
    lines = [
        ln for ln in out.strip().splitlines()
        if ln.strip() and " WARN " not in ln and not ln.startswith("[Stage")
    ]
    tail = verdicts[-1] if verdicts else (lines[-1] if lines else "")
    print(f"[{label}] {'PASS' if ok else 'FAIL'} "
          f"({time.time()-t0:.0f}s)  {tail[:120]}")
    if not ok:
        # surface the failing step's full output immediately — a
        # buried mismatch is the whole failure mode this tool prevents
        print(out)
    return label, ok, time.time() - t0, tail


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--skip-bench", action="store_true",
                    help="skip step 4 (bench.py)")
    ap.add_argument("--skip-layout", action="store_true",
                    help="skip the layout_scan steps")
    ap.add_argument("--sweep-only", action="store_true",
                    help="run only step 1 (preverify --sweep 50)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)

    results = []
    results.append(run("sweep-50", ["scripts/preverify.py", "--sweep", "50"]))
    if not args.sweep_only:
        for i in range(4):
            results.append(
                run(f"chunk-{i}/4", ["scripts/preverify.py", "--chunk", str(i), "4"])
            )
        if not args.skip_layout:
            for i in range(4):
                results.append(
                    run(f"layout-{i}/4", ["scripts/layout_scan.py", "--chunk", str(i), "4"])
                )
        if not args.skip_bench:
            label, ok, dt, tail = run("bench", ["bench.py"])
            results.append((label, ok, dt, tail))
            m = re.search(r"\{.*\}", tail)
            if ok and m:
                rec = json.loads(m.group(0))
                print(f"[bench] headline_total={rec['value']}s "
                      f"(best-of-{rec.get('n')}, spread={rec.get('spread')})")

    failed = [label for label, ok, _dt, _tail in results if not ok]
    print()
    print("ROUNDCHECK " + ("PASS" if not failed else f"FAIL: {failed}"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
