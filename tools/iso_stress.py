#!/usr/bin/env python3
"""Isolated quiet-box stress capture (round-16 verdict ask #1).

Runs each named scenario ALONE in its own JVM, gating every launch on
the 1-min loadavg dropping under a threshold so per-row loadavg
columns record a genuinely quiet box — the distinct_n discipline from
round 16, mechanized. Rows append into one JSON array artifact; each
row carries its job count and per-stage drill-down ("jobs",
"stage_rows"), so a spilling or skewed row can be attributed to a stage
from the artifact alone.

Usage: python3 tools/iso_stress.py out.json scenario1,scenario2,...
Env: ISO_LOAD_MAX (default 1.5), ISO_WAIT_SEC (max settle wait, 600),
     SPARK_GRAFT_CPUS (default 32).
"""
import json
import os
import subprocess
import sys
import time

out_path = sys.argv[1]
names = [n for n in sys.argv[2].split(",") if n]
load_max = float(os.environ.get("ISO_LOAD_MAX", "1.5"))
wait_max = int(os.environ.get("ISO_WAIT_SEC", "600"))

rows = []
for name in names:
    # BINDING quiet gate (round-17 verdict #3): a row captured at load
    # 2.5-3.4 is not quiet-box evidence, so on timeout we FAIL instead
    # of falling through and launching anyway. ISO_GATE=wait keeps
    # waiting forever instead (for unattended overnight captures).
    t0 = time.time()
    while True:
        load1 = float(open("/proc/loadavg").read().split()[0])
        if load1 < load_max:
            break
        if (time.time() - t0 >= wait_max
                and os.environ.get("ISO_GATE", "fail") != "wait"):
            print(f"[iso] {name}: box never quieted (load {load1:.2f} "
                  f">= {load_max} after {wait_max}s) — refusing to "
                  f"launch; rows so far kept in {out_path}", flush=True)
            sys.exit(2)
        print(f"[iso] {name}: waiting for quiet (load {load1:.2f} "
              f">= {load_max})", flush=True)
        time.sleep(15)
    tmp = f"/tmp/iso_{name}.json"
    if os.path.exists(tmp):
        os.remove(tmp)
    env = dict(os.environ, SPARK_GRAFT_STRESS_ONLY=name,
               SPARK_GRAFT_STRESS_OUT=tmp,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(f"[iso] {name}: launching (load "
          f"{open('/proc/loadavg').read().split()[0]})", flush=True)
    r = subprocess.run(["sbt", "-batch", "runMain graft.Stress"], env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0 or not os.path.exists(tmp):
        print(f"[iso] {name}: FAILED rc={r.returncode}; tail:", flush=True)
        print("\n".join(r.stdout.decode(errors="replace")
                        .splitlines()[-30:]))
        sys.exit(1)
    # full stdout kept per scenario; side-prints surfaced inline
    with open(f"/tmp/iso_{name}.log", "wb") as lf:
        lf.write(r.stdout)
    for ln in r.stdout.decode(errors="replace").splitlines():
        if ln.startswith(f"[{name}]"):
            print("[iso] " + ln, flush=True)
    row = json.load(open(tmp))
    rows.extend(row if isinstance(row, list) else [row])
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1)
    got = rows[-1]
    print(f"[iso] {name}: wall={got.get('wall_sec')} "
          f"spill={got.get('spill_bytes')} "
          f"skew1s={got.get('max_task_skew_1s')} "
          f"byteSkew={got.get('max_byte_skew')} "
          f"load={got.get('loadavg')} "
          f"startLoad={got.get('run_loadavg_start')}", flush=True)
print(f"[iso] wrote {out_path}: {len(rows)} rows")
