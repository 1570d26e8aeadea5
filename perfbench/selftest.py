"""Self-test of the seeded input generators (no Spark needed).

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical input files and that a
different seed changes the OD pairs and the lookup keys.  Exits 1 on
the first failed check.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import inputs  # noqa: E402


def _generate(out: str, seed: int) -> None:
    inputs.write_tpch(os.path.join(out, "tpch"), seed, 0.001)
    inputs.write_corpus(os.path.join(out, "corpus"), seed, 200, 50)
    grid = inputs.RoadGrid(seed, 6, 5)
    grid.write(os.path.join(out, "roads.geojson"))
    inputs.write_graph(os.path.join(out, "graph"), inputs.grid_edges(seed, 3, 3), 9)
    with open(os.path.join(out, "lists.txt"), "w") as fh:
        fh.write(repr(inputs.grid_edges(seed, 4, 4)) + "\n")
        fh.write(repr(inputs.chain_edges(seed, 50, 7)) + "\n")
        fh.write(repr(inputs.chunks(seed, len(grid.streets), 5, 3)) + "\n")
        fh.write(repr(inputs.od_pairs(seed, 30, 20)) + "\n")
        fh.write(repr([inputs.corner_pair(seed, 4, 5, i) for i in range(8)]) + "\n")
        fh.write(repr(inputs.lookup_keys(seed, 30, 50, 4, 3)) + "\n")
        fh.write(repr(inputs.update_batch(seed, len(grid.streets), 5, 0)) + "\n")


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def main() -> int:
    work = os.path.join(os.path.dirname(HERE), ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    a, b = os.path.join(work, "a"), os.path.join(work, "b")
    try:
        _generate(a, 7)
        _generate(b, 7)
        names = _files(a)
        if names != _files(b):
            print("FAIL: same seed wrote different file sets")
            return 1
        differ = [n for n in names if not filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)]
        if differ:
            print(f"FAIL: same seed, different bytes in {differ}")
            return 1
        checks = {
            "od_pairs": lambda s: inputs.od_pairs(s, 1000, 50),
            "lookup_keys": lambda s: inputs.lookup_keys(s, 1000, 200, 8, 3),
        }
        for name, gen in checks.items():
            if gen(7) == gen(8):
                print(f"FAIL: seeds 7 and 8 give the same {name}")
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"ok: {len(names)} input files byte-identical for one seed; "
          "OD pairs and lookup keys change with the seed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
