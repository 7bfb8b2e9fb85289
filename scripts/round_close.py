"""End-of-round checklist, one command: the three checks every round runs
before the driver takes over, with the round-7 budgeting rules baked in.

Usage: python scripts/round_close.py [--skip-battery]

1. front-50 dry run: the EXACT front-50 through the driver gate in one
   fresh session, wall-clock reported against the ~60 s window and the
   1.5x fresh-session rule.
2. full battery at sf0.01 (skippable; ~5 min).
3. bench.py (prints the JSON line with machine_state).

Exit nonzero on any correctness failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    skip_battery = "--skip-battery" in sys.argv
    from stockmarketdata_dwb_etl_spark import registry

    registry.load_all()

    front = list(registry.QUERIES)[:50]
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "driver_sim.py"),
         "/root/testdata/sf0.01", *front],
        capture_output=True, text=True,
    )
    wall = time.time() - t0
    tail = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "?"
    # Risk-band history: r10 front-50 dry-ran ~80 s and the driver
    # completed 50/50; r11's graph-heavy front-50 dry-ran 127 s and is
    # the operative upper reference. Over ~130 s, expect a possible
    # driver time-cut — keep heavies LAST so only the retryable tail
    # is at risk.
    print(f"[1/3] front-50 dry run: {tail} | wall {wall:.0f}s "
          f"({'OVER' if wall > 130 else 'within'} the measured band; "
          f"heavies must sit LAST so a time-cut only costs the tail)")
    if r.returncode != 0:
        return 1

    if skip_battery:
        print("[2/3] full battery: SKIPPED (--skip-battery)")
    else:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "driver_sim.py"),
             "/root/testdata/sf0.01"],
            capture_output=True, text=True,
        )
        tail = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "?"
        print(f"[2/3] full battery: {tail}")
        if r.returncode != 0:
            return 1

    r = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                       capture_output=True, text=True)
    line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "?"
    print(f"[3/3] bench: {line}")
    if r.returncode == 0:
        # r11 verdict #7: the handoff bench line must carry the probe
        # calibration so BENCH_r{N}.json stays machine-comparable
        rec = json.loads(line)
        missing = [k for k in ("machine_state", "baseline_probe",
                               "value_normalized") if k not in rec]
        if missing:
            print(f"      bench JSON missing calibration fields: {missing}")
            return 1
    return r.returncode


if __name__ == "__main__":
    raise SystemExit(main())
