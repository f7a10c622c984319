#!/usr/bin/env python3
"""Planted-fault checks of the benchmark itself (run from the checkout root):

    python3 perfbench/selftest.py

1. --plant fail  (one query throws) must fail the run: non-zero exit,
   failed > 0, so error_rate > 0.
2. --plant wrong (one query returns an extra row) must fail the same way.
3. --plant delay (250 ms sleep inside every builder span) must show up in
   sparkentry.build_s of a traced run, and not in exec.s.
4. Every traced run's layers must reconcile with operation wall time
   (trace.reconcile_failures == 0).

Exits 0 when every check holds. Takes about five minutes.
"""
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
       "--workload", "queries", "--seed", "7", "--seconds", "1"]
DELAY_S = 0.25


def run(*extra):
    """(exit code, result object, run description) of one run."""
    p = subprocess.run(RUN + list(extra), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    info = [l for l in p.stdout.splitlines() if l.startswith("perfbench: {")]
    return (p.returncode, json.loads(lines[-1]) if lines else None,
            json.loads(info[-1][len("perfbench: "):]) if info else None)


def main():
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    for plant in ("fail", "wrong"):
        rc, res, _ = run("--trace", "0", "--plant", plant)
        expect(rc != 0, f"--plant {plant}: exit code {rc} is non-zero")
        expect(res is not None and res["failed"] > 0 and not res["correct"],
               f"--plant {plant}: failed={res and res['failed']} of attempted="
               f"{res and res['attempted']} (error_rate > 0)")

    rc0, clean, _ = run("--trace", "1")
    rc1, delayed, info = run("--trace", "1", "--plant", "delay")
    expect(rc0 == 0 and rc1 == 0, f"traced runs exit 0 ({rc0}, {rc1})")
    if clean and delayed:
        m0, m1 = clean["metrics"], delayed["metrics"]
        planted = len(info["operations_s"]) * DELAY_S  # one sleep per operation of a pass
        d_build = m1["sparkentry.build_s"]["value"] - m0["sparkentry.build_s"]["value"]
        d_exec = m1["exec.s"]["value"] - m0["exec.s"]["value"]
        expect(abs(d_build - planted) < 0.15 * planted,
               f"delay lands in sparkentry.build_s: +{d_build:.2f} s for {planted:.2f} s planted")
        expect(abs(d_exec) < 0.25 * planted,
               f"delay stays out of exec.s: {d_exec:+.2f} s")
        for name, m in (("clean", m0), ("delay", m1)):
            expect(m["trace.reconcile_failures"]["value"] == 0,
                   f"{name}: layers reconcile with wall time (max residual "
                   f"{m['trace.reconcile_residual_s']['value'] * 1e3:.1f} ms)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
