#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps query by query.

Usage:
    python3 tools/plan_diff.py <before explains.txt> <after explains.txt>

`runMain graft.Explain <sfDir> <out>` writes one
`===================== q_name =====================` section per query.
Each section is normalised first, so that only plan changes remain:

  - expression ids (`#123`) and `plan_id=N`;
  - lambda variable numbers (`x_446`: a JVM-wide counter);
  - RDD ids (`MapPartitionsRDD[1681]`: shifted by any earlier job);
  - object identity hashes (`graft.plans.TopKAgg@1fd1deed`,
    `$$Lambda$6054/0x00007f53b1657a80@2fa33765`);
  - call-site line numbers (`at Materialize.scala:27`);
  - the scratch root each side ran on (`file:<root>/graft-…`).

Every query whose normalised plan differs is printed with its whole
unified diff; the exit status is 1 if any query
differs or is missing from one side. Known run-to-run flakes are
labelled, not skipped: they still count.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (q_\w+) =+$", re.M)

# optimizer rewrites whose order varies between runs of the same code
KNOWN_FLAKES = {
    "q_contamination": "Expand-order flake",
    "q_profile": "Expand-order flake",
    "q_boilerplate_ngrams": "Expand-order flake",
}

RULES = [
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda$N"),
    (re.compile(r"([\w$.\];])@[0-9a-f]{1,8}\b"), r"\1@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\bat (\w+\.scala):\d+"), r"at \1:N"),
    (re.compile(r"file:/[^\s,\]]*?/graft-"), "file:<scratch>/graft-"),
]


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def sections(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    heads = list(HEADER.finditer(text))
    out = {}
    for i, m in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text)
        out[m.group(1)] = normalise(text[m.end():end]).strip("\n").splitlines()
    return out


def main():
    ap = argparse.ArgumentParser(description="Diff two graft.Explain dumps query by query.")
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    before, after = sections(args.before), sections(args.after)
    if not before or not after:
        print("no query sections found — not a graft.Explain dump?")
        return 2
    names = sorted(set(before) | set(after))
    differing = []
    for q in names:
        label = f"{q} ({KNOWN_FLAKES[q]})" if q in KNOWN_FLAKES else q
        if q not in before or q not in after:
            differing.append(q)
            print(f"=== {label}: only in {'after' if q in after else 'before'}")
            continue
        if before[q] == after[q]:
            continue
        differing.append(q)
        diff = list(difflib.unified_diff(before[q], after[q], "before", "after", n=1, lineterm=""))
        print(f"=== {label}: {len(diff)} diff lines")
        print("\n".join(diff))
    print(f"== {len(differing)} of {len(names)} queries differ"
          + (f": {', '.join(differing)}" if differing else "") + " ==")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
