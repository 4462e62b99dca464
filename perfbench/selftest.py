"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

Run from the repository root. Checks that perfbench/layers.json says,
for every per-layer metric of BENCHMARK.json, which end-to-end metric it
should move on which workload; that on every workload
an untraced run prints every end-to-end metric with its unit and a
traced run prints every per-layer metric with its unit, non-zero for
the layers the workload runs; that a planted wrong golden makes the
correctness gate fail the command; and that leaves which raise are
counted as failed while the result line is still printed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SEED = 7
# metrics that must be non-zero on the workloads that run their layer
MUST_MOVE = {
    "pipeline_recrawl": ["kernel.extract_us_per_doc", "extraction.wall_s",
                         "extraction.to_python_mb", "lineage.commits",
                         "crawldiff.wall_s", "curate.wall_s",
                         "curate.lsh_pairs", "chunking.chunks",
                         "sources.export_mb", "pipeline.extract_s"],
    "registry": ["queries.extract_article_s", "queries.warm_total_s",
                 "queries.codegen_compiles"],
}


def run(workload: str, seed: int, trace: int) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--size", "tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def moves(name: str, spec: dict[str, str]) -> str | None:
    """The entry of layers.json for a metric: its own, or its layer's."""
    while name not in spec and "." in name:
        name = name.rsplit(".", 1)[0]
    return spec.get(name)


def main() -> int:
    sys.path.insert(0, os.getcwd())
    problems = []
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        spec = json.load(f)["moves"]
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems += [f"layers.json says nothing of {n}" for n in layers
                 if moves(n, spec) is None]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    for w in (x["name"] for x in bench["workloads"]):
        for trace, names in ((0, e2e), (1, layers)):
            code, res = run(w, SEED, trace)
            if code != 0 or not res or not res["correct"]:
                problems.append(f"{w} --trace {trace}: failed ({code}, {res})")
                break
            if {k: v["unit"] for k, v in res["metrics"].items()} != names:
                problems.append(f"{w} --trace {trace}: names/units differ")
        else:
            check_layers(w, res["metrics"], problems)

    check_planted_golden(problems)
    check_raising_leaves(problems)
    for p in problems:
        print(f"[selftest] FAIL {p}")
    print("[selftest] ok" if not problems else "[selftest] failed")
    return 1 if problems else 0


def check_layers(w: str, metrics: dict, problems: list[str]) -> None:
    """The traced run measured the layers the workload runs."""
    for k in MUST_MOVE[w]:
        if not metrics[k]["value"] > 0:
            problems.append(f"{w}: {k} is not measured")
    with open(os.path.join(".perfbench", "trace", f"{w}-s{SEED}.json")) as f:
        labels = json.load(f)["labels"]
    print(f"[selftest] {w}: runs ok, labels {labels}", flush=True)


def check_planted_golden(problems: list[str]) -> None:
    """A planted wrong golden must fail the gate and the command."""
    inputs, _ = gen.generate("pipeline_recrawl", SEED + 1, "tiny",
                             os.path.abspath(os.path.join(".perfbench",
                                                          "inputs")))
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        with open(os.path.join(inputs, "plan.json")) as f:
            delta = set(json.load(f)["delta_urls"])
        path = os.path.join(inputs, "golden.parquet")
        t = pq.read_table(path)
        texts = t.column("expected_text").to_pylist()
        urls = t.column("url").to_pylist()
        i = next(i for i, x in enumerate(texts) if x and urls[i] in delta)
        texts[i] = texts[i] + " planted"
        t = t.set_column(t.schema.get_field_index("expected_text"),
                         "expected_text", pa.array(texts, pa.string()))
        pq.write_table(t, path)
        code, res = run("pipeline_recrawl", SEED + 1, 0)
        if code == 0 or not res or res["correct"] or res["failed"] < 1:
            problems.append(f"planted golden not caught ({code}, {res})")
        else:
            print(f"[selftest] planted golden caught: failed="
                  f"{res['failed']}, exit {code}", flush=True)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)


def check_raising_leaves(problems: list[str]) -> None:
    """Leaves over an events table without its value column raise; each
    must count as a failed operation, and the command must still print
    its result and exit 1."""
    inputs, _ = gen.generate("registry", SEED + 2, "tiny",
                             os.path.abspath(os.path.join(".perfbench",
                                                          "inputs")))
    try:
        import pyarrow.parquet as pq

        path = os.path.join(inputs, "events.parquet")
        pq.write_table(pq.read_table(path).drop(["value"]), path)
        code, res = run("registry", SEED + 2, 0)
        if code == 0 or not res or res["correct"] or res["failed"] < 1:
            problems.append(f"raising leaves not counted ({code}, {res})")
        else:
            print(f"[selftest] raising leaves counted: failed="
                  f"{res['failed']} of {res['attempted']}, exit {code}",
                  flush=True)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
