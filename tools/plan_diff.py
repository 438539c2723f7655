#!/usr/bin/env python3
"""Compare two `graft.tools.DumpPlans` output directories.

    python3 tools/plan_diff.py <before_dir> <after_dir>

Each directory holds `<query>_<suffix>.txt` files, one formatted physical
plan per registered query. Plans are compared after stripping what varies
from run to run of the same code: expression ids (`#123`), `plan_id=N`,
the random part of the engine's temp store names (`graft_compact-<uuid>`),
JVM lambda addresses, and the checkout directory in front of
`spark-warehouse/` (so two checkouts compare). The script prints every
query whose plan differs, with its hash-Exchange count before and after,
then a summary.

Exit status: 1 when a differing plan gains a hash Exchange or a query is
dumped on one side only, else 0.
"""
import re
import sys
from pathlib import Path

NOISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(graft_\w+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
     r"\1-*"),
    (re.compile(r"\$\$Lambda\$?[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    # a build-once store under the checkout's own spark-warehouse
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:spark-warehouse/"),
]
HASH_EXCHANGE = re.compile(r"\bhashpartitioning\(")


def load(directory):
    plans = {}
    for path in sorted(Path(directory).glob("*.txt")):
        # DumpPlans names files <query>_<suffix>.txt; queries contain '_'
        query = path.stem.rsplit("_", 1)[0]
        text = path.read_text()
        for pattern, repl in NOISE:
            text = pattern.sub(repl, text)
        plans[query] = text
    return plans


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    only = sorted(set(before) ^ set(after))
    common = sorted(set(before) & set(after))
    differ = [q for q in common if before[q] != after[q]]
    gained = []
    for q in differ:
        b = len(HASH_EXCHANGE.findall(before[q]))
        a = len(HASH_EXCHANGE.findall(after[q]))
        if a > b:
            gained.append(q)
        print(f"DIFF {q}: hash exchanges {b} -> {a}")
    for q in only:
        side = "before" if q in before else "after"
        print(f"ONLY-{side.upper()} {q}")
    print(f"{len(common)} compared, {len(common) - len(differ)} identical, "
          f"{len(differ)} differ, {len(gained)} gain a hash exchange, "
          f"{len(only)} on one side only")
    return 1 if gained or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
