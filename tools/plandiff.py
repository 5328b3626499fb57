#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories key by key.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each `<key>_<suffix>.txt` plan is normalized before comparison, so that
only plan shape counts:
  - expression ids `#<n>`, `RDD[<n>]` and `plan_id=<n>` lose their numbers
  - `<File>.scala:<line>` call sites lose their line
  - store roots `.../graft_<name>_<hash>` (and any temp-dir prefix before
    them) become `<tmp>/graft_*`
A key present on one side only counts as a difference. Prints one line
per key (`same`, `DIFF` with a unified diff, or `missing`) and exits 1
on any difference, 0 when every key is identical.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w+\.scala):\d+"), r"\1"),
    (re.compile(r"[^\s\[\],]*/graft_\w+"), "<tmp>/graft_*"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines()


def plans(d):
    return {f: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            differ += 1
            side = argv[1] if key not in a else argv[2]
            print(f"missing {key} (not in {side})")
            continue
        with open(a[key]) as fa, open(b[key]) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            print(f"same    {key}")
        else:
            differ += 1
            print(f"DIFF    {key}")
            sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                la, lb, argv[1] + "/" + key, argv[2] + "/" + key, lineterm=""))
    print(f"{len(set(a) | set(b)) - differ} identical, {differ} different")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
