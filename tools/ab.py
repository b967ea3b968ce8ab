"""Same-window A/B of bench.py legs across checkouts and core counts.

Usage:
    python tools/ab.py LEG[,LEG...] CHECKOUT [CHECKOUT ...]
                       [--cores N [N ...]] [--rounds R]

Each run is ``python <checkout>/bench.py LEG ...`` in a fresh subprocess
(a fresh JVM, so checkouts never share a session), with
``SPARK_GRAFT_CPUS`` set to the run's core count when ``--cores`` is
given. The rest of the environment (``SPARK_GRAFT_SF_DIR``,
``NHAO_BENCH_REPLICATE``, ``NHAO_BENCH_PAGES``) passes through unchanged.

Runs are interleaved — round by round, then core count, then checkout —
so host-load drift hits every arm alike. stdout gets bench.py's JSON line
for each run, in run order, with ``checkout``, ``round`` and ``wall``
added; stderr gets each arm's best time per leg. A checkout whose bench.py
predates leg selection runs its whole suite, and its line still holds the
asked legs under ``queries``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time


def runs(legs, checkouts, cores=(None,), rounds=3):
    """Yield each run's bench.py record, in run order."""
    for i in range(rounds):
        for n in cores:
            for checkout in checkouts:
                env = dict(os.environ)
                if n is not None:
                    env["SPARK_GRAFT_CPUS"] = str(n)
                t0 = time.time()
                # cwd outside every checkout: workers must import the
                # package from the path the session ships, not from cwd
                out = subprocess.run(
                    [sys.executable, os.path.join(checkout, "bench.py"),
                     *legs],
                    env=env, cwd=tempfile.gettempdir(), capture_output=True,
                    text=True, timeout=3600)
                lines = [ln for ln in out.stdout.splitlines()
                         if ln.startswith("{")]
                if out.returncode != 0 or not lines:
                    raise RuntimeError(
                        f"bench.py in {checkout} failed (rc="
                        f"{out.returncode}): "
                        f"{out.stderr.strip().splitlines()[-5:]}")
                yield {"checkout": checkout, "round": i,
                       "wall": round(time.time() - t0, 1),
                       **json.loads(lines[-1])}


def main():
    p = argparse.ArgumentParser(
        description="Interleaved A/B of bench.py legs.")
    p.add_argument("legs", help="comma-separated bench.py leg names")
    p.add_argument("checkouts", nargs="+")
    p.add_argument("--cores", type=int, nargs="+", default=[None])
    p.add_argument("--rounds", type=int, default=3)
    args = p.parse_args()
    legs = args.legs.split(",")
    records = []
    for rec in runs(legs, args.checkouts, args.cores, args.rounds):
        print(json.dumps(rec), flush=True)
        records.append(rec)
    for checkout in args.checkouts:
        for n in sorted({r["cpus"] for r in records}):
            arm = [r for r in records
                   if r["checkout"] == checkout and r["cpus"] == n]
            best = {leg: min(r["queries"][leg] for r in arm) for leg in legs}
            print(f"# {checkout} local[{n}]: best {best}, best calib "
                  f"{min(r['calib_sec'] for r in arm)}s", file=sys.stderr)


if __name__ == "__main__":
    main()
