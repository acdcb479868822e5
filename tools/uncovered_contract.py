"""Print the queries() entries a correctness snapshot does not cover.

A snapshot (CORRECTNESS_rNN.json) maps each contract entry that was run
to its result. This prints the entries of the current queries() that are
not in it, space-separated and in queries() order, so the re-run list for
check_oracle.py is generated rather than picked by hand:

    python tools/check_oracle.py <sf_dir> \\
        $(python tools/uncovered_contract.py CORRECTNESS_r05.json)

Usage: python tools/uncovered_contract.py <CORRECTNESS_rNN.json>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def uncovered(snapshot_path: str) -> list[str]:
    with open(snapshot_path) as f:
        covered = json.load(f)
    return [name for name in entrymod.queries() if name not in covered]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("Usage: uncovered_contract.py <CORRECTNESS_rNN.json>",
              file=sys.stderr)
        return 2
    print(" ".join(uncovered(argv[1])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
