"""Interleaved A/B of session configs: one arm per subset of the dropped confs.

    python scripts/session_ab.py --rev <commit> \
        --drop spark.sql.autoBroadcastJoinThreshold \
        --drop spark.shuffle.sort.bypassMergeThreshold [--rounds 5] [--extra-rounds 3]

Exports ``<commit>`` once per arm into a temp dir (``git archive``, so the
checkout is never edited) and deletes, in that copy, the
``.config("<key>", ...)`` line of ``session.py`` for every key the arm drops.
With two ``--drop`` keys there are four arms: both kept, each one dropped,
both dropped. Each round runs every workload once per arm, the arm order
rotated by one per round:

- ``perfbench/run.py --workload wave-fetch|crawl-multiwave --seed <round>``
  (``--rounds`` rounds);
- ``bench_extra.py queries`` (the 29 steady times, summed) and
  ``bench_extra.py wave <nproc> 300000 1`` (``--extra-rounds`` rounds).

Prints one JSON row per round and workload, then per arm and metric the
median and quartile distance, and per pair of arms that differ in one key
the rounds the arm with the key won.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = os.cpu_count() or 4
PERFBENCH = ("setup_s", "wave_s", "crawl_last_wave_s", "fetched_urls_per_s")
HIGHER = {"fetched_urls_per_s", "wave_urls_per_s"}


def export_arm(rev: str, dest: str, drop: tuple[str, ...]) -> None:
    os.makedirs(dest)
    tar = subprocess.run(["git", "-C", REPO, "archive", rev], check=True, capture_output=True)
    subprocess.run(["tar", "-x", "-C", dest], input=tar.stdout, check=True)
    path = os.path.join(dest, "newsraag_crawler_spark", "session.py")
    with open(path) as f:
        lines = f.readlines()
    for key in drop:
        hit = [ln for ln in lines if re.search(rf'\.config\(\s*"{re.escape(key)}"', ln)]
        if len(hit) != 1:
            raise SystemExit(f"{rev}: expected one .config line for {key}, found {len(hit)}")
        lines.remove(hit[0])
    with open(path, "w") as f:
        f.writelines(lines)


def last_json(stdout: str) -> dict | None:
    for line in reversed(stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return None


def run_perfbench(arm_dir: str, workload: str, seed: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", "0"]
    out = subprocess.run(cmd, cwd=arm_dir, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        return None
    detail, last = json.loads(lines[-2]), json.loads(lines[-1])
    row = {k: last["metrics"][k]["value"] for k in PERFBENCH}
    row["failed"] = last["failed"]
    row["cpu_probe_ms"] = detail["detail"]["cpu_probe_ms"]
    return row


def run_extra(arm_dir: str, mode: str) -> dict | None:
    args = ["queries"] if mode == "queries" else ["wave", str(NPROC), "300000", "1"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC))
    out = subprocess.run([sys.executable, "bench_extra.py", *args], cwd=arm_dir, env=env,
                         capture_output=True, text=True, timeout=1800)
    res = last_json(out.stdout)
    if res is None:
        return None
    if mode == "queries":
        return {"steady_sum_s": round(sum(res["queries_steady"].values()), 3),
                "cpu_probe_ms": res["cpu_probe_ms"]}
    return {"wave_elapsed_s": res["elapsed_median"],
            "wave_urls_per_s": round(res["fetched"] / res["elapsed_median"], 1),
            "cpu_probe_ms": res["cpu_probe_ms"]}


def summarize(rows: list[dict], arms: dict[str, tuple[str, ...]]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in rows:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        first = next(v for r in rs for v in r["arms"].values() if v)
        metrics = [m for m in first if m != "failed"]
        for m in metrics:
            for arm in arms:
                vals = sorted(r["arms"][arm][m] for r in rs if r["arms"].get(arm))
                if not vals:
                    continue
                q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
                print(json.dumps({"workload": wl, "metric": m, "arm": arm, "n": len(vals),
                                  "median": round(statistics.median(vals), 3),
                                  "iqr": round(q[2] - q[0], 3)}))
            if m == "cpu_probe_ms":
                continue
            for with_arm, without_arm in pairs(arms):
                ok = [r for r in rs if r["arms"].get(with_arm) and r["arms"].get(without_arm)]
                a = [r["arms"][with_arm][m] for r in ok]
                b = [r["arms"][without_arm][m] for r in ok]
                wins = sum((x > y) if m in HIGHER else (x < y) for x, y in zip(a, b))
                print(json.dumps({"workload": wl, "metric": m, "with": with_arm,
                                  "without": without_arm, "with_wins": wins, "rounds": len(ok)}))


def pairs(arms: dict[str, tuple[str, ...]]):
    """(arm keeping key k, arm dropping k and otherwise equal) for every k."""
    for (a, da), (b, db) in itertools.permutations(arms.items(), 2):
        if set(db) - set(da) and len(set(db) ^ set(da)) == 1:
            yield a, b


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rev", default="HEAD", help="commit whose session sets the keys")
    p.add_argument("--drop", action="append", required=True, help="conf key to A/B")
    p.add_argument("--rounds", type=int, default=5)
    p.add_argument("--extra-rounds", type=int, default=3)
    args = p.parse_args()

    arms = {}
    for k in range(len(args.drop) + 1):
        for drop in itertools.combinations(args.drop, k):
            name = "+".join(f"no-{d.rsplit('.', 1)[-1]}" for d in drop) or "all"
            arms[name] = drop
    root = tempfile.mkdtemp(prefix="session_ab_")
    try:
        for name, drop in arms.items():
            export_arm(args.rev, os.path.join(root, name), drop)
        names, rows = list(arms), []
        for rnd in range(max(args.rounds, args.extra_rounds)):
            order = names[rnd % len(names):] + names[:rnd % len(names)]
            jobs = []
            if rnd < args.rounds:
                jobs += [(wl, lambda d, wl=wl: run_perfbench(d, wl, rnd + 1))
                         for wl in ("wave-fetch", "crawl-multiwave")]
            if rnd < args.extra_rounds:
                jobs += [(f"bench_extra-{m}", lambda d, m=m: run_extra(d, m))
                         for m in ("queries", "wave")]
            for wl, job in jobs:
                row = {"round": rnd + 1, "workload": wl, "order": order, "arms": {}}
                for arm in order:
                    try:
                        row["arms"][arm] = job(os.path.join(root, arm))
                    except subprocess.TimeoutExpired:
                        row["arms"][arm] = None
                print(json.dumps(row), flush=True)
                rows.append(row)
        summarize(rows, arms)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
