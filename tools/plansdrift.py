#!/usr/bin/env python3
"""Report the PLANS.md sections that no longer match a fresh plan dump.

Usage:
    sbt "runMain graft.PlanDump <sf0.01 dir> /tmp/plans_fresh.md"
    python3 tools/plansdrift.py /tmp/plans_fresh.md [PLANS.md]

Both files are split into their `## <query>` sections. Expression ids
(`name#123`, `#123L`), exchange plan ids (`plan_id=45`) and RDD ids
(`MapPartitionsRDD[1568]`) depend on how many plans the JVM built before,
and object hashes (`BloomWords@5ca627da`) and temporary directory names
(`/tmp/graft_pq_idx1325...`) change with every run, so all of them are
replaced by placeholders before the comparison. Everything else, node
numbers included, must match.

Exit status: 0 when every section matches, 1 when a section drifted or
exists in only one of the files (each is named on stdout), 2 on bad usage.
"""

import re
import sys

_VOLATILE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@H"),
    (re.compile(r"(file:/tmp/[^/\]\s]*?)\d{6,}"), r"\1N"),
]


def sections(path):
    """Map each `## <name>` heading to the normalized text under it."""
    out = {}
    name = None
    lines = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = normalize(lines)
                name = line[3:].strip()
                lines = []
            elif name is not None:
                lines.append(line)
    if name is not None:
        out[name] = normalize(lines)
    return out


def normalize(lines):
    text = "".join(lines).strip()
    for pattern, placeholder in _VOLATILE:
        text = pattern.sub(placeholder, text)
    return text


def first_difference(a, b):
    al, bl = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(al, bl)):
        if x != y:
            return f"line {i + 1}: fresh {x.strip()!r} vs recorded {y.strip()!r}"
    return f"line {min(len(al), len(bl)) + 1}: {len(al)} fresh vs {len(bl)} recorded lines"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    fresh = sections(argv[1])
    recorded = sections(argv[2] if len(argv) == 3 else "PLANS.md")
    drifted = []
    for name in sorted(set(fresh) | set(recorded)):
        if name not in recorded:
            drifted.append((name, "missing from the recorded file"))
        elif name not in fresh:
            drifted.append((name, "missing from the fresh dump"))
        elif fresh[name] != recorded[name]:
            drifted.append((name, first_difference(fresh[name], recorded[name])))
    for name, why in drifted:
        print(f"DRIFT {name}: {why}")
    matched = sum(1 for n in fresh if recorded.get(n) == fresh[n])
    print(f"{matched}/{len(fresh)} sections match")
    return 1 if drifted else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
