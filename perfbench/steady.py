#!/usr/bin/env python3
"""Steadiness check: is the benchmark steady enough for its own bounds?

Runs every workload of BENCHMARK.json ten times, untraced, with seeds
1..10, in two sets of the same code. For every end-to-end metric it
prints:

  - spread: the distance between the first and third quartile of the
    set's values (statistics.quantiles(values, n=4)) over their median,
    against the metric's bound (steady below bound/3, accepted below the
    bound);
  - drift: the change of the median between every pair of sets, either
    way, as a share of the earlier set's median, against the bound.

It names every metric and workload that is not steady, and every run
whose outputs were not correct, and exits 1 if there is any. A set
whose runs saw the hypervisor steal more than STEAL_VOID_PCT of the CPU
(median `steal_pct` of the set's run records) proves nothing either
way: the check calls it void and exits 1, and it has to be run again in
a quieter window. Run from the root of a checkout:

    python3 perfbench/steady.py

Every run's result line is appended to `.bench_build/steady.jsonl`.
"""
import itertools
import json
import os
import statistics
import subprocess
import sys

RUNS = 10
SETS = 2
SEEDS = range(1, RUNS + 1)
STEAL_VOID_PCT = 4.0


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    os.makedirs(".bench_build", exist_ok=True)
    log = open(os.path.join(".bench_build", "steady.jsonl"), "a")
    values = {}  # (set, workload, metric) -> [values]
    steal = {}  # (set, workload) -> [steal_pct of each run]
    wrong = []  # runs whose outputs were not correct
    for s in range(SETS):
        for w in workloads:
            for seed in SEEDS:
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]),
                                          "--trace", "0"]
                r = subprocess.run(cmd, stdout=subprocess.PIPE,
                                   stderr=subprocess.DEVNULL, text=True)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0 or not lines:
                    print(f"set {s} {w} seed {seed}: FAILED (exit {r.returncode})")
                    sys.exit(1)
                res = json.loads(lines[-1])
                with open(os.path.join(".bench_build", "results",
                                       f"{w}-seed{seed}-trace0.json")) as f:
                    st = json.load(f)["context"]["steal_pct"]
                steal.setdefault((s, w), []).append(st)
                log.write(json.dumps({"set": s, "workload": w, "seed": seed,
                                      "steal_pct": st, **res}) + "\n")
                log.flush()
                if not res["correct"]:
                    print(f"set {s} {w} seed {seed}: outputs NOT correct")
                    wrong.append(f"{w}/seed {seed}/set {s}")
                for m in metrics:
                    values.setdefault((s, w, m["name"]), []).append(
                        res["metrics"][m["name"]]["value"])
                print(f"set {s} {w} seed {seed}: " + " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                    for m in metrics) + f" steal={st:.2f}%", flush=True)
    bad, void = [], []
    print(f"\n{'workload':16} {'metric':8} {'bound':>6} " +
          " ".join(f"{'spread' + str(s):>8}" for s in range(SETS)) +
          f" {'drift':>7}  verdict")
    for w in workloads:
        noisy = [s for s in range(SETS)
                 if statistics.median(steal[(s, w)]) > STEAL_VOID_PCT]
        if noisy:
            void.append(w)
        for m in metrics:
            n, bound = m["name"], m["bound"]
            sp = [spread(values[(s, w, n)]) for s in range(SETS)]
            med = [statistics.median(values[(s, w, n)]) for s in range(SETS)]
            drift = max(abs(med[b] - med[a]) / med[a]
                        for a, b in itertools.combinations(range(SETS), 2))
            if noisy:
                verdict = f"VOID (steal over {STEAL_VOID_PCT}% in set {noisy})"
            elif max(sp) > bound:
                verdict = "NOT STEADY (spread over bound)"
            elif drift > bound:
                verdict = "NOT STEADY (median drifted)"
            elif max(sp) > bound / 3:
                verdict = "accepted, spread over bound/3"
            else:
                verdict = "steady"
            if verdict.startswith("NOT"):
                bad.append(f"{w}/{n}")
            print(f"{w:16} {n:8} {bound:6.3f} " +
                  " ".join(f"{x:8.4f}" for x in sp) + f" {drift:7.4f}  {verdict}")
    if void:
        print("\nvoid, run again in a quieter window: " + ", ".join(void))
    if bad:
        print("\nnot steady: " + ", ".join(bad))
    if wrong:
        print("\nnot correct: " + ", ".join(wrong))
    if void or bad or wrong:
        sys.exit(1)
    print("\nall metrics steady")


if __name__ == "__main__":
    main()
