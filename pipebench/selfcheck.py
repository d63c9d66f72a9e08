"""Self-check of the benchmark on a small seed (about five minutes).

    python3 pipebench/selfcheck.py [--seed 7]

1. The generator is byte-deterministic per seed: two processes print the same
   document digests and expected-output fingerprints, and another seed
   prints different ones.
2. The expectation calculator agrees with the real jobs: every workload run
   at a quarter of its size passes every output check.
3. A traced run writes a span for every layer it calls and reports every
   per-layer metric.
4. An injected wrong expectation fails the run: exit code 1, correct=false,
   and the failure counted in `failed`.
"""
import argparse
import json
import os
import subprocess
import sys

import build

RUN = os.path.join(build.HERE, "run.py")
LAYERS = ["UsgsGeoJson", "BronzeToSilver", "SilverToGold", "TrainTsunamiModel", "GoldQueries."]


def run(workload, seed, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", "20", "--scale", "0.25", *extra]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=build.ROOT)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else {})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def expect(ok, what):
        print(f"[selfcheck] {'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    cp = os.pathsep.join(build.build())

    def gen(s):
        return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "pipebench.GenCheck", str(s), "3000"],
                              check=True, capture_output=True, text=True).stdout
    a, b, c = gen(seed), gen(seed), gen(seed + 1)
    expect(a == b and a.strip(), f"generator output is identical across processes for seed {seed}")
    expect(a != c, f"seed {seed + 1} generates different documents")

    for w in (x["name"] for x in spec["workloads"]):
        code, res = run(w, seed, "--trace", "0")
        e2e = res.get("metrics", {})
        expect(code == 0 and res.get("correct") and res.get("failed") == 0,
               f"{w}: the jobs' outputs match the expectation calculator ({res.get('attempted')} checks)")
        expect(all(e2e.get(m["name"], {}).get("value", 0) > 0 for m in spec["end_to_end"]),
               f"{w}: every end-to-end metric is reported and non-zero")

        code, res = run(w, seed, "--trace", "1")
        spans_path = os.path.join(build.OUT, "traces", f"{w}-seed{seed}.jsonl")
        names = set()
        if os.path.exists(spans_path):
            with open(spans_path) as fh:
                names = {json.loads(line)["name"] for line in fh}
        expect(code == 0 and all(any(n.startswith(l) for n in names) for l in LAYERS),
               f"{w}: the traced run writes spans for every layer")
        expect(set(res.get("metrics", {})) == {m["name"] for m in spec["per_layer"]},
               f"{w}: the traced run reports every per-layer metric")

    w = spec["workloads"][0]["name"]
    code, res = run(w, seed, "--trace", "0", "--inject-wrong-expectation")
    expect(code == 1 and res.get("correct") is False and res.get("failed", 0) >= 1,
           f"{w}: an injected wrong expectation fails the run (exit {code}, failed={res.get('failed')})")

    print(f"[selfcheck] {'PASSED' if not failures else f'{len(failures)} FAILED'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
