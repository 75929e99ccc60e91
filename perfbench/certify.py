#!/usr/bin/env python3
"""Re-derives perfbench/golden_batch_board.tsv and certifies it against DuckDB.

    python3 perfbench/certify.py

Generates the batch_board tables (if not already under .bench_build/data),
runs every board gate once, writes the golden digests, and hash-compares each
gate's full result with its DuckDB oracle using the project's
dev/oracle_compare.py (needs the duckdb and pandas Python packages). Run it
after a change that legitimately alters a gate's output or the board data,
and commit the new golden file only when every gate with an oracle passes.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import ADD_OPENS, ROOT  # noqa: E402


def main():
    out = os.path.join(ROOT, ".bench_build")
    classes, jars = build.ensure_built(ROOT, os.path.join(out, "logs", "build.log"))
    work = os.path.join(out, "work", "certify")
    results = os.path.join(out, "certify_results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.BatchBoard", os.path.join(out, "data"), work,
            os.path.join(ROOT, "perfbench", "golden_batch_board.tsv"), results]
    data = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True).stdout.split()[-1]
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "oracle_compare.py"),
                         data, results]).returncode
    sys.exit(rc)


if __name__ == "__main__":
    main()
