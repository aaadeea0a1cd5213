"""Two-cluster-size scaling evidence (BASELINE.json north_rule: N->4N
executor throughput scaling efficiency >= 0.8; no real cluster exists in
this sandbox, so the two sizes are local-cluster[1,8,·] vs
local-cluster[4,8,·] — SEPARATE executor JVM processes with their own
heaps, GCs and python workers, the closest available analog of 1 vs 4
cluster nodes. Pass --local to fall back to in-process local[N] levels.)

The sandbox host is SHARED with bursty external tenants (load >10 with
none of our processes running), which falsifies naive wall-clock
comparison. This harness therefore gates every measurement on a
quiet-host check: it samples /proc/stat while idle and only launches a
run when external busy < QUIET_CORES; attempts bracketed by a noisy
pre/post sample are discarded. Levels alternate; best accepted run per
level wins.

Usage: python tools/bench_scaling.py [rows] [lo_executors] [hi_executors]
       [--local] [--refine expr|udf|auto]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

QUIET_CORES = 2.5
MAX_WAIT_S = 2400
NEEDED_PER_LEVEL = 2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_sample():
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals), vals[3] + vals[4]  # total, idle(+iowait)


def external_busy_cores(window: float = 2.0) -> float:
    t0, i0 = cpu_sample()
    time.sleep(window)
    t1, i1 = cpu_sample()
    dt, di = t1 - t0, i1 - i0
    ncpu = os.cpu_count() or 32
    return (1 - di / dt) * ncpu if dt else 0.0


CORES_PER_EXEC = 8


def run_level(level: int, rows: int, local: bool, refine: str = "auto") -> dict:
    """One bench run confined to the level's core budget.

    The whole process tree (driver JVM, executor JVMs, python workers)
    is PINNED with taskset to level*8 physical cores — a real N-node
    cluster gives each node a fixed core budget that its JVM task
    threads and python workers time-share; without pinning, the small
    level silently borrows the idle rest of the box (its python workers
    ride free cores) and the measured "scaling" is meaningless."""
    env = dict(os.environ)
    env["SPARK_GRAFT_REFINE"] = refine
    cores = level if local else level * CORES_PER_EXEC
    if local:
        env["SPARK_GRAFT_CPUS"] = str(level)
    else:
        # worker = 15g, executor = 14g: at 600M rows a 6g executor heap
        # hit its cap and GC-thrashed (measured 10x collapse); per-node
        # memory is constant across cluster sizes on a real cluster, so
        # equal per-executor memory at both levels is the fair setup
        env["SPARK_GRAFT_MASTER"] = f"local-cluster[{level},{CORES_PER_EXEC},15360]"
        env["SPARK_GRAFT_CPUS"] = str(cores)
        env["SPARK_GRAFT_EXECUTOR_MEM"] = "14g"
        env["SPARK_GRAFT_DRIVER_MEM"] = "12g"
        # commit heaps at startup: otherwise the first full-size run
        # pays a page-commitment storm (measured 354s -> 27s first rep)
        env["SPARK_GRAFT_EXECUTOR_JVM_EXTRA"] = "-Xms14g -XX:+AlwaysPreTouch"
    out = subprocess.run(
        [
            "taskset",
            "-c",
            f"0-{cores - 1}",
            sys.executable,
            "bench.py",
            "--tiling-only",
            "--rows",
            str(rows),
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=2400,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print("run failed; stderr tail:", out.stderr[-800:], flush=True)
        raise RuntimeError("bench run produced no JSON")
    return json.loads(lines[-1])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("rows", nargs="?", type=int, default=150_000_000)
    p.add_argument("lo_executors", nargs="?", type=int, help="default 1 (8 with --local)")
    p.add_argument("hi_executors", nargs="?", type=int, help="default 4 x lo_executors")
    p.add_argument("--local", action="store_true", help="in-process local[N] levels")
    p.add_argument("--refine", choices=("expr", "udf", "auto"), default="auto")
    args = p.parse_args()
    local, refine, rows = args.local, args.refine, args.rows
    lo = args.lo_executors or (8 if local else 1)
    hi = args.hi_executors or 4 * lo

    accepted: dict[int, list[dict]] = {lo: [], hi: []}
    t_start = time.time()
    turn = 0
    while time.time() - t_start < MAX_WAIT_S and (
        len(accepted[lo]) < NEEDED_PER_LEVEL or len(accepted[hi]) < NEEDED_PER_LEVEL
    ):
        pre = external_busy_cores()
        if pre > QUIET_CORES:
            print(f"host noisy (ext busy={pre:.1f} cores) — waiting", flush=True)
            time.sleep(20)
            continue
        level = (lo, hi)[turn % 2]
        turn += 1
        if len(accepted[level]) >= NEEDED_PER_LEVEL:
            level = lo if level == hi else hi
        r = run_level(level, rows, local, refine)
        post = external_busy_cores()
        if post > QUIET_CORES:
            print(f"discarding level-{level} run (post ext busy={post:.1f})", flush=True)
            continue
        print(
            f"accepted level-{level} run: {r['queries']['tiling_flagship']}s "
            f"({r['images_per_sec']:,}/s) pre={pre:.1f} post={post:.1f}",
            flush=True,
        )
        accepted[level].append(r)

    if not accepted[lo] or not accepted[hi]:
        print("FAILED: no quiet window for one of the levels")
        sys.exit(1)
    r_lo = max(accepted[lo], key=lambda r: r["images_per_sec"])
    r_hi = max(accepted[hi], key=lambda r: r["images_per_sec"])
    thr_lo, thr_hi = r_lo["images_per_sec"], r_hi["images_per_sec"]
    eff = (thr_hi / thr_lo) / (hi / lo)
    stamp = time.strftime("%Y-%m-%d %H:%M:%SZ", time.gmtime())
    if local:
        lo_desc, hi_desc = f"local[{lo}]", f"local[{hi}]"
    else:
        lo_desc = f"local-cluster[{lo},{CORES_PER_EXEC},8g]"
        hi_desc = f"local-cluster[{hi},{CORES_PER_EXEC},8g]"
    report = f"""## Scaling evidence ({stamp})

Same tiling job (cell-prefilter spatial join, {rows:,} synthetic
geo-tagged rows, refine strategy '{refine}', warm JVM, identical plan
per repeat so codegen is Janino-cache-hot) at two cluster sizes —
{lo_desc} vs {hi_desc} ({'shared-JVM threads' if local else
'SEPARATE executor JVM processes: own heaps, GCs, python workers'}).
Every accepted run was bracketed by quiet-host checks (external busy <
{QUIET_CORES} cores before and after):

| level | executors x cores | wall (s) | images/sec | accepted runs |
|---|---|---|---|---|
| N  | {lo_desc} | {r_lo['queries']['tiling_flagship']} | {thr_lo:,} | {len(accepted[lo])} |
| 4N | {hi_desc} | {r_hi['queries']['tiling_flagship']} | {thr_hi:,} | {len(accepted[hi])} |

Scaling efficiency (N->4N) = (thr_4N / thr_N) / {hi // lo} = **{eff:.3f}**
(target >= 0.8 per BASELINE.json north_rule).
"""
    print(report)
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n" + report)


if __name__ == "__main__":
    main()
