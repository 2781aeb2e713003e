#!/usr/bin/env python3
"""Re-pin the expected output hashes of the `relational` and `iterative`
queries (pins.json).

    python3 perfbench/pin.py <dump dir>

Dumps every listed query over its committed corpus with graft.Verify,
requires the DuckDB oracle compare (tools/verify_local.py) to pass on
that dump, and only then folds each dumped output the way the harness
folds a live one (perfbench.Pin) and writes the folds to pins.json.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402

import build  # noqa: E402
import run  # noqa: E402


def main(dump_root):
    classpath = build.build()
    work = os.path.join(run.HERE, ".work", "pin")
    os.makedirs(work, exist_ok=True)
    oracle = os.path.join(os.path.dirname(run.HERE), "tools", "verify_local.py")

    def java(main, *args):
        return subprocess.run(build.java_command(classpath, work, main, args), cwd=work,
                              check=True, stdout=subprocess.PIPE, text=True).stdout

    by_corpus = {}
    for corpus, name in (q for qs in run.QUERIES.values() for q in qs):
        by_corpus.setdefault(corpus, []).append(name)
    pins = {}
    for corpus, names in sorted(by_corpus.items()):
        data = os.path.join(run.DATA, corpus)
        dump = os.path.join(os.path.abspath(dump_root), corpus)
        java("graft.Verify", data, dump, ",".join(names))
        subprocess.run([sys.executable, oracle, data, dump], check=True)
        out = java("perfbench.Pin", dump, ",".join(names))
        folds = dict(line.split("\t") for line in out.split("\n") if "\t" in line)
        if sorted(folds) != sorted(names):
            raise SystemExit(f"pin: no fold for {sorted(set(names) - set(folds))}")
        pins[corpus] = folds
    with open(run.PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
