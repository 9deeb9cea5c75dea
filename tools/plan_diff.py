#!/usr/bin/env python3
"""Compare two `graft.PlanDump` files (formatted physical plans).

Usage: python3 tools/plan_diff.py A B

Both plans are normalized first: expression ids (`band#506L`), plan ids
(`[plan_id=2244]`), operator numbers (`(46)`, `Reuses operator id: 21`),
codegen and AQE stage ids, lambda variable ids, lambda class names and
object hashes become
placeholders, so two dumps of the same plan compare equal. Then, for
each file, the script prints the counts of shuffle `Exchange`,
`BroadcastExchange`, `ReusedExchange`, `Generate` (explode), `Union`,
each join operator, and whole-stage-codegen stages (a run of `*`
operators under a non-codegen parent, counted once), followed by a
unified diff of the normalized
text. Exit status: 0 when the normalized plans are identical, 1 when
they differ.
"""
import difflib
import re
import sys
from collections import Counter

SUBS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"Reuses operator id: \d+"), "Reuses operator id: N"),
    (re.compile(r"Hosting operator id = \d+"), "Hosting operator id = N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: N"),  # a query stage's id
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r" \(\d+\)"), " (N)"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
]

# a plan-tree line: optional tree prefix, optional codegen star, operator, (id)
TREE = re.compile(r"^(?P<pre>[ :|]*(?:[+:]- )?)(?P<star>\* )?(?P<op>[A-Za-z][^(]*?) \((?:\d+|N)\)")
JOIN = re.compile(r"Join\b|CartesianProduct")


def normalize(text):
    for rx, rep in SUBS:
        text = rx.sub(rep, text)
    return text


def counts(text):
    """Operator counts over every plan tree in a formatted explain."""
    c = Counter()
    stack = []  # (depth, starred) of the open ancestors of the current line
    for line in text.splitlines():
        m = TREE.match(line)
        if not m:
            stack = []
            continue
        depth = len(m.group("pre"))
        starred = m.group("star") is not None
        op = m.group("op").strip()
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if starred and not (stack and stack[-1][1]):
            c["WholeStageCodegen"] += 1
        stack.append((depth, starred))
        name = op.split(" ")[0]
        if name in ("Exchange", "BroadcastExchange", "ReusedExchange",
                    "Generate", "Union"):
            c[name] += 1
        elif JOIN.search(name):
            c[name] += 1
    return c


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    texts = []
    for path in argv[1:]:
        with open(path, encoding="utf-8") as f:
            texts.append(normalize(f.read()))
    cs = [counts(t) for t in texts]
    keys = ["Exchange", "BroadcastExchange", "ReusedExchange", "Generate", "Union",
            "WholeStageCodegen"]
    keys += sorted(k for k in set(cs[0]) | set(cs[1]) if k not in keys)
    width = max(len(k) for k in keys)
    print(f"{'':{width}}  {'A':>4}  {'B':>4}")
    for k in keys:
        a, b = cs[0][k], cs[1][k]
        print(f"{k:{width}}  {a:4d}  {b:4d}{'  *' if a != b else ''}")
    diff = list(difflib.unified_diff(texts[0].splitlines(), texts[1].splitlines(),
                                     argv[1], argv[2], lineterm="", n=2))
    try:
        print("\n".join(diff) if diff else "normalized plans are identical")
    except BrokenPipeError:  # piped into head
        pass
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
