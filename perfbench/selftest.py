#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The same seed generates byte-identical inputs (star schema parquet,
   dashboard batches, corpus and its embeddings); another seed does not.
2. A tiny-size smoke run of every workload, untraced and traced,
   prints a correct result holding exactly the metric names of
   ``BENCHMARK.json``, each a finite number.

Exits non-zero on the first failure. Takes a few minutes: each smoke
run starts its own JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _digest_dir(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


def _inputs_digest(seed: int, scratch: str) -> str:
    import pyarrow.parquet as pq

    star = os.path.join(scratch, f"star-{seed}")
    gen.write_star(seed, 0.001, star)
    docs, emb, planted = gen.corpus(seed, 300)
    pq.write_table(docs, os.path.join(star, "corpus_docs.parquet"))
    pq.write_table(emb, os.path.join(star, "corpus_emb.parquet"))
    rng = gen.rng_for(seed, "dashboard")
    batches = [gen.accounts_batch(rng, 100, 50, 0.7), gen.sales_batch(rng, 50)]
    h = hashlib.sha256(json.dumps(_digest_dir(star), sort_keys=True).encode())
    h.update(repr((batches, planted["group"])).encode())
    shutil.rmtree(star)
    return h.hexdigest()


def check_determinism() -> None:
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        a, b, c = (_inputs_digest(s, scratch) for s in (7, 7, 8))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if a != b:
        raise SystemExit("FAIL: the same seed generated different inputs")
    if a == c:
        raise SystemExit("FAIL: different seeds generated identical inputs")
    print("ok  same seed -> byte-identical inputs; other seed -> other inputs")


def smoke(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL: {workload} trace={trace} exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    if set(got) != set(want):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        v = m.get("value")
        if m.get("unit") != want.get(name) or not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: {m}")
        elif not trace and v <= 0:
            problems.append(f"{name} is not positive: {v}")
    if problems:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL: {workload} trace={trace}: " + "; ".join(problems))
    print(f"ok  {workload} trace={trace}: {len(got)} metrics, attempted {res['attempted']}")


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_determinism()
    for w in spec["workloads"]:
        for trace in (0, 1):
            smoke(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
