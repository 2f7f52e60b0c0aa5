"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

Checks that
- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) named in BENCHMARK.json is printed with its unit, and
  nothing else;
- a deliberately corrupted output (one event dropped from a delivered
  batch, one catalog query result changed) is counted as failed;
- the command fails without printing a result in a directory that
  holds only BENCHMARK.json and the benchmark's own files;
- no process the command started (the Spark JVM, Python workers) is
  still running when it has exited.

Takes a few minutes: each case starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def in_group(pgid: int) -> list[int]:
    """Live processes of one process group."""
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(name))
    return out


def bench(root: str, *args: str) -> tuple[int, dict | None]:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    # Output goes to files, not pipes: a reader of a pipe would also
    # wait for every process that inherited it. The run gets its own
    # process group, which whatever it starts joins.
    with tempfile.TemporaryFile("w+") as fo, \
            tempfile.TemporaryFile("w+") as fe:
        p = subprocess.Popen(spec["command"] + list(args), cwd=root,
                             stdout=fo, stderr=fe, text=True,
                             start_new_session=True)
        p.wait(timeout=600)
        left = in_group(p.pid)
        fo.seek(0)
        fe.seek(0)
        out, err = fo.read(), fe.read()
    assert not left, f"processes left running after the run: {left}"
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 and root == ROOT:
        sys.stderr.write(err[-4000:])
    return p.returncode, result


def check_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        sorted(set(got) ^ {m["name"] for m in wanted})
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m
        assert isinstance(got[m["name"]]["value"], float), m


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    base = ["--seed", "7", "--seconds", "3", "--tiny"]
    for w in spec["workloads"]:
        for trace, wanted in (("0", spec["end_to_end"]),
                              ("1", spec["per_layer"])):
            code, res = bench(ROOT, "--workload", w["name"], *base,
                              "--trace", trace)
            assert code == 0 and res is not None, (w["name"], trace)
            check_metrics(res, wanted)
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            print(f"ok   {w['name']} --trace {trace}: "
                  f"{len(res['metrics'])} metrics, "
                  f"{res['attempted']} checks", flush=True)

    # corrupted outputs: one event dropped from the first delivered
    # batch of each stream; in the traced run also one catalog query
    # result changed
    for w, trace, at_least in (("stream_drain", "1", 2),
                               ("stream_paced", "0", 1)):
        code, res = bench(ROOT, "--workload", w, *base, "--trace", trace,
                          "--corrupt")
        assert code == 0 and res is not None, w
        assert not res["correct"] and res["failed"] >= at_least, res
        print(f"ok   {w} --corrupt: {res['failed']} of "
              f"{res['attempted']} checks failed", flush=True)

    # a directory with only BENCHMARK.json and the benchmark's files
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = bench(d, "--workload", spec["workloads"][0]["name"],
                          *base, "--trace", "0")
        assert code != 0 and res is None, (code, res)
        print(f"ok   bare directory: exit {code}, no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
