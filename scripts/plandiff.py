#!/usr/bin/env python3
"""Diff two PlanDump directories query by query.

Each directory holds `explain("formatted")` dumps written by
`sbt "Test/runMain graft.PlanDump <tag> <suffix> <queries|ALL>"`, one file
per query named `<query>_<suffix>.txt` (e.g. `plans/r19/dedup_ngram_before.txt`).
Files pair up by query name, so the two directories may use different
suffixes.

Before comparing, the script normalizes what moves between JVM runs and
source edits without changing the plan:
  - expression ids            `id#123L`                -> `id#N`
  - RDD ids                   `SQLExecutionRDD[122]`   -> `SQLExecutionRDD[N]`
  - exchange plan ids         `[plan_id=113899]`       -> `[plan_id=N]`
  - source call-site lines    `at GroupedRank.scala:88` -> `at GroupedRank.scala:N`
  - the observation counter   `graft_exact_jaccard_7`  -> `graft_exact_jaccard_N`
  - JVM lambda class names     `$Lambda$7267/0x00007f3c15883858@7b37e3fe` -> `$Lambda$N`
  - per-process temp dirs     `/tmp/graft_csv_31050`   -> `/tmp/graft_csv_N`
  - the checkout's warehouse  `file:/a/b/spark-warehouse/t` -> `file:…/spark-warehouse/t`

It prints the remaining differing lines of each query and exits 1 if any
remain (or a query is dumped on one side only), 0 otherwise.

Usage:
  python3 scripts/plandiff.py DIR_A DIR_B [QUERY ...]
"""
import difflib
import os
import re
import sys

_RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([\w$]+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\bgraft_exact_jaccard_\d+"), "graft_exact_jaccard_N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(/graft_[a-z_]+?)_\d+\b"), r"\1_N"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:…/spark-warehouse/"),
]


def normalize(text):
    out = []
    for line in text.splitlines():
        for pat, rep in _RULES:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def dumps(d):
    """query name -> file path for every `<query>_<suffix>.txt` in `d`."""
    found = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt") and "_" in name:
            found[name[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, name)
    return found


def main(argv):
    if len(argv) < 3:
        sys.stderr.write(__doc__)
        return 2
    a_dir, b_dir, only = argv[1], argv[2], argv[3:]
    a, b = dumps(a_dir), dumps(b_dir)
    names = only or sorted(set(a) | set(b))
    differing = 0
    for q in names:
        if q not in a or q not in b:
            side = a_dir if q not in a else b_dir
            print(f"== {q}: no dump in {side}")
            differing += 1
            continue
        with open(a[q], encoding="utf-8") as fa, open(b[q], encoding="utf-8") as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            continue
        differing += 1
        print(f"== {q}")
        for line in difflib.unified_diff(la, lb, a[q], b[q], n=0, lineterm=""):
            if not line.startswith(("---", "+++", "@@")):
                print(line)
    print(f"{len(names) - differing}/{len(names)} queries identical after normalization")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
