#!/usr/bin/env python3
"""Gate-sensitivity (mutation) probe (r17, VERDICT task 2): sixteen green
rounds rest on the claim "the oracle gate catches bugs" — this script
TESTS that claim. Each registered mutant applies one seeded single-site
semantic mutation to OPERATOR source (never SparkEntry/OracleSql — the
spec side must stay fixed so the diff means something), rebuilds, and
requires at least one gated query to diverge:

  leg 1  fixture compare (sf0.01) over the operator's own gating queries
  leg 2  a differential-fuzz seed over the same queries (NULL-free
         fixtures can't kill NULL-guard mutations; boundary mutations
         need the engineered degenerate corpora)
  leg 3  escalation: the FULL fixture surface — if the operator's own
         queries missed it, does ANYTHING catch it?

A mutant surviving all three legs is a real coverage hole: fix the
oracle or add the query. A query crash counts as a kill (a loud failure
IS a divergence). Source files are byte-restored after every mutant and
the script refuses to start on a dirty working tree, so it can never
leave a mutation behind.

This is an EVIDENCE artifact (~N compile+verify cycles, minutes per
mutant), not a per-close gate; run it when operator code changes shape.

Usage: mutationcheck.py [--only M1,M7] [--write-json MUTATIONCHECK.json]
       mutationcheck.py --sites
Exit 0 iff every applied mutant was KILLED. `--sites` builds and runs
nothing: it checks that every mutant's `old` text is still in its file
(a refactor that moves a site turns its mutant into a BROKEN_SITE that
witnesses nothing) and exits 1 naming each missing site.
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"
WORK = "/tmp/graft_mutation"

# Each mutant: one semantic single-site edit (first occurrence of `old`),
# the queries that gate that operator, and the fuzz seed whose corpus can
# expose it when the fixture can't (17 = hostile values; -2 = degenerate
# cardinality with engineered k-anonymity boundary groups).
MUTANTS = [
    # The first probe run (r17) surfaced three EQUIVALENT/near-equivalent
    # mutants — replaced below with the analysis recorded, because an
    # uncatchable mutant measures nothing:
    #  - prefix-length "+1" drop: for threshold t, a miss at prefix p-1
    #    needs (1+t)*ceil_bump >= t*|set|*(1-t), i.e. |set| <= ~6 tokens at
    #    every threshold the surface runs, AND an adversarial global df
    #    order — unreachable from text-derived shingle sets here; the
    #    candidate stage is also self-healing (any superset verifies away).
    #    Replaced by a VERIFY-stage arithmetic mutation, which every pair
    #    must catch.
    #  - "[^a-z0-9 ]" -> "[^a-z0-9]": space maps to space either way —
    #    provably equivalent. Replaced by dropping trim().
    #  - final CC agg min->max: belt-and-braces over already-unique values
    #    (min == max at the fixpoint) — equivalent. Replaced by the
    #    load-bearing smallStar election min.
    {"id": "M1", "desc": "exact-Jaccard verify stage drops |a|+|b|-|intersect| union term",
     "file": "src/main/scala/graft/llm/Dedup.scala",
     "old": "size(col(a.lex)) + size(col(b.lex)) - col(\"n_intersect\")",
     "new": "size(col(a.lex)) + size(col(b.lex))",
     "queries": ["dedup_jaccard_exact", "dedup_ngram", "dedup_threshold_sweep"]},
    {"id": "M2", "desc": "normalizeText drops the trim (edge whitespace survives)",
     "file": "src/main/scala/graft/llm/TextStats.scala",
     "old": "trim(regexp_replace(regexp_replace(lower(text), \"[^a-z0-9 ]\", \" \"), \" +\", \" \"))",
     "new": "regexp_replace(regexp_replace(lower(text), \"[^a-z0-9 ]\", \" \"), \" +\", \" \")",
     "queries": ["dedup_exact", "quality_model_score", "char_diversity"]},
    {"id": "M3", "desc": "hashed-linear-model weight index modulus d -> d-1",
     "file": "src/main/scala/graft/llm/TextStats.scala",
     "old": "pmod(Dedup.portableTokenHash(t), lit(d.toLong)).cast(\"int\") + 1",
     "new": "pmod(Dedup.portableTokenHash(t), lit((d - 1).toLong)).cast(\"int\") + 1",
     "queries": ["quality_model_score", "model_calibration"]},
    {"id": "M4", "desc": "deterministic sample bucket modulus off-by-one",
     "file": "src/main/scala/graft/llm/Sampling.scala",
     "old": "Dedup.portableTokenHash(concat(id.cast(\"string\"), lit(salt))) % Buckets",
     "new": "Dedup.portableTokenHash(concat(id.cast(\"string\"), lit(salt))) % (Buckets - 1)",
     "queries": ["events_ab_test", "split_leakage_safe", "sample_temperature"]},
    {"id": "M5", "desc": "skew-join salt layout's copied side skips replica id 0 (salt domain hole)",
     "file": "src/main/scala/graft/skew/SkewJoin.scala",
     "old": "explode(sequence(lit(0), col(r) - 1))",
     "new": "explode(sequence(lit(1), col(r) - 1))",
     "queries": ["skewjoin_inner", "skewjoin_left", "stream_skew_interval",
                 "skewjoin_typed"]},
    # M6 history: the final-agg min->max was equivalent (unique values at
    # the fixpoint); the smallStar ELECTION min->max also survived the full
    # surface — star rewiring only moves edges WITHIN a component, and
    # largeStar's least(x, mn) still pulls every root to the component
    # minimum, so a converged run is output-identical (CC is robust to the
    # election by construction — a finding, not a hole). The semantic
    # failure class for iterative graph ops is NODE LOSS: drop smallStar's
    # self-link and an isolated near-dup pair's only edge vanishes
    # mid-iteration (linked = (m,m) filtered out, no self edge), splitting
    # real components.
    {"id": "M6", "desc": "connected-components smallStar drops the self-link (node loss)",
     "file": "src/main/scala/graft/operators/ConnectedComponents.scala",
     "old": "linked.union(self).distinct()",
     "new": "linked.distinct()",
     "queries": ["dedup_groups", "dedup_cluster_sizes"]},
    {"id": "M7", "desc": "KMV estimator uses k instead of k-1",
     "file": "src/main/scala/graft/sketch/KmvOps.scala",
     "old": ".otherwise(expr(s\"${(k - 1).toLong * M}L div kth_hash\")))",
     "new": ".otherwise(expr(s\"${k.toLong * M}L div kth_hash\")))",
     "queries": ["approx_distinct_kmv", "approx_distinct_rollup"]},
    {"id": "M8", "desc": "Pearson covariance numerator sign flip",
     "file": "src/main/scala/graft/operators/Correlation.scala",
     "old": "(col(\"__n\") * col(s\"__sp_${a}_$b\") - col(s\"__s_$a\") * col(s\"__s_$b\"))",
     "new": "(col(\"__n\") * col(s\"__sp_${a}_$b\") + col(s\"__s_$a\") * col(s\"__s_$b\"))",
     "queries": ["corr_matrix"]},
    {"id": "M9", "desc": "k-anonymity boundary below_k: n < k -> n <= k",
     "file": "src/main/scala/graft/operators/Anonymity.scala",
     "old": ".withColumn(\"below_k\", col(\"n\") < k)",
     "new": ".withColumn(\"below_k\", col(\"n\") <= k)",
     "queries": ["kanonymity_audit"], "fuzz_seed": -2},
    {"id": "M10", "desc": "lateness fold counts on-time ties as out-of-order (> 0 -> >= 0)",
     "file": "src/main/scala/graft/streaming/StreamOps.scala",
     "old": "if (late > 0) nOoo += 1",
     "new": "if (late >= 0) nOoo += 1",
     "queries": ["watermark_audit", "stream_lateness"]},
    {"id": "M11", "desc": "in-group percentile numerator drops the -1 anchor",
     "file": "src/main/scala/graft/operators/GroupedRank.scala",
     "old": "((__graft_grank - 1) * 1000000L) div greatest(__graft_n - 1, 1L)",
     "new": "((__graft_grank) * 1000000L) div greatest(__graft_n - 1, 1L)",
     "queries": ["quality_pct_rank"]},
    {"id": "M12", "desc": "duplicate-paragraph first-occurrence election min -> max",
     "file": "src/main/scala/graft/llm/Dedup.scala",
     "old": ".agg(min(struct(col(\"id\"), col(\"pos\"))).as(\"o\"))",
     "new": ".agg(max(struct(col(\"id\"), col(\"pos\"))).as(\"o\"))",
     "queries": ["dedup_paragraphs", "dedup_substring_apply"]},
    # GroupedRank.rangedPrefix is the one range-partitioned prefix scan
    # under both the rank family and RunningExtremum: a prefix that takes
    # in its own partition double-counts it (ranks shift, running maxima
    # see rows after them)
    {"id": "M13", "desc": "ranged prefix window includes its own partition (-1 -> 0)",
     "file": "src/main/scala/graft/operators/GroupedRank.scala",
     "old": ".rowsBetween(Window.unboundedPreceding, -1)",
     "new": ".rowsBetween(Window.unboundedPreceding, 0)",
     "queries": ["events_ntile", "watermark_audit"]},
    # Similarity.cosineOfNorms is the one pair cosine under every embedding
    # path (exact, ANN, SemDeDup, semantic decontamination, embedding
    # dedup): dividing by one norm instead of their product rescales every
    # score and moves every threshold decision
    {"id": "M14", "desc": "shared pair cosine divides by one norm (na * nb -> na)",
     "file": "src/main/scala/graft/llm/Similarity.scala",
     "old": "when(denom === 0, 0.0).otherwise(dot(a, b) / denom)",
     "new": "when(denom === 0, 0.0).otherwise(dot(a, b) / na)",
     "queries": ["ann_bruteforce", "semdedup", "decontaminate_semantic",
                 "dedup_embedding"]},
]


def run(cmd, **kw):
    return subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, **kw)


def sbt(args):
    return run(["sbt", "-batch", args],
               env={**os.environ, "SPARK_GRAFT_CPUS":
                    os.environ.get("SPARK_GRAFT_CPUS", "16")})


def compare_verdicts(sf_dir, out_dir, queries):
    """query -> verdict line from compare.py; missing output = divergence."""
    p = run([sys.executable, os.path.join(REPO, "scripts", "compare.py"),
             sf_dir, out_dir] + queries)
    if p.returncode not in (0, 1):
        # a compare crash on a mutant means the mutant broke the output so
        # hard DuckDB can't read it — that IS a divergence, but record it
        return {q: "COMPARE CRASH" for q in queries}
    verdicts = {}
    for line in p.stdout.splitlines():
        if ": " not in line or line.startswith("--"):
            continue
        name, status = line.split(": ", 1)
        if name in queries:
            verdicts[name] = status
    for q in queries:
        verdicts.setdefault(q, "NO VERDICT LINE")
    return verdicts


def divergent(verdicts):
    return sorted(q for q, v in verdicts.items() if not v.startswith("MATCH"))


def site_present(m):
    with open(os.path.join(REPO, m["file"])) as f:
        return m["old"] in f.read()


def check_sites():
    missing = [m for m in MUTANTS if not site_present(m)]
    for m in missing:
        print(f"{m['id']}: BROKEN SITE — pattern not found in {m['file']}: "
              f"{m['old']}")
    print(f"{len(MUTANTS) - len(missing)}/{len(MUTANTS)} mutant sites present")
    sys.exit(1 if missing else 0)


def main():
    argv = sys.argv[1:]
    if "--sites" in argv:
        check_sites()
    write_json, only = None, None
    if "--write-json" in argv:
        i = argv.index("--write-json")
        write_json = argv[i + 1]
        del argv[i:i + 2]
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i:i + 2]

    # untracked non-source files (e.g. a previous MUTATIONCHECK.json) can't
    # confound the compiled state; anything tracked-and-modified, or an
    # untracked file under src/, can — refuse those
    def dirty_lines():
        return [l for l in
                run(["git", "status", "--porcelain"]).stdout.splitlines()
                if not (l.startswith("??") and "src/" not in l)]
    dirty = dirty_lines()
    if dirty:
        sys.exit("working tree is dirty — mutationcheck refuses to run "
                 "(it byte-restores mutated files and must be able to "
                 "verify a clean final state):\n" + "\n".join(dirty))

    mutants = [m for m in MUTANTS if only is None or m["id"] in only]
    # pre-generate every fuzz corpus with UNMUTATED code (the per-mutant
    # fuzz legs then reuse the pinned corpus)
    seeds = sorted({m.get("fuzz_seed", 17) for m in mutants})
    r = sbt(f"runMain graft.FuzzCheck {WORK}/fuzz "
            f"{','.join(str(s) for s in seeds)} q1_agg")
    if r.returncode != 0:
        print(r.stdout[-3000:], r.stderr[-2000:])
        sys.exit("fuzz corpus pre-generation failed")

    results = []
    for m in mutants:
        path = os.path.join(REPO, m["file"])
        original = open(path, "rb").read()
        text = original.decode()
        if not site_present(m):
            results.append({**strip(m), "status": "BROKEN_SITE",
                            "killed_by": None})
            print(f"{m['id']}: BROKEN SITE — pattern not found in {m['file']}")
            continue
        t0 = time.time()
        status, killed_by = "SURVIVED", None
        try:
            open(path, "w").write(text.replace(m["old"], m["new"], 1))
            c = sbt("compile")
            if c.returncode != 0:
                status = "NO_COMPILE"  # invalid mutant — config bug, fails run
            else:
                qs = m["queries"]
                out = f"{WORK}/out_{m['id']}"
                run(["rm", "-rf", out])
                v = sbt(f"runMain graft.Verify {SF} {out} {' '.join(qs)}")
                div = divergent(compare_verdicts(SF, out, qs)) \
                    if v.returncode == 0 else ["__verify_crash__"]
                if div:
                    status, killed_by = "KILLED", f"fixture:{div[0]}"
                else:
                    seed = m.get("fuzz_seed", 17)
                    fz = sbt(f"runMain graft.FuzzCheck {WORK}/fuzz {seed} "
                             + " ".join(qs))
                    fdir = f"{WORK}/fuzz/seed_{seed}"
                    fdiv = divergent(compare_verdicts(
                        f"{fdir}/data", f"{fdir}/out", qs)) \
                        if fz.returncode == 0 else ["__fuzz_crash__"]
                    if fdiv:
                        status, killed_by = "KILLED", f"fuzz[{seed}]:{fdiv[0]}"
                    else:
                        # escalation: full fixture surface
                        out2 = f"{WORK}/out_{m['id']}_full"
                        run(["rm", "-rf", out2])
                        v2 = sbt(f"runMain graft.Verify {SF} {out2}")
                        allq = list(json.load(open(
                            os.path.join(out2, "oracle_sql.json"))))
                        d2 = divergent(compare_verdicts(SF, out2, allq)) \
                            if v2.returncode == 0 else ["__verify_crash__"]
                        if d2:
                            status = "KILLED"
                            killed_by = f"full-surface:{d2[0]}"
        finally:
            open(path, "wb").write(original)
        results.append({**strip(m), "status": status, "killed_by": killed_by,
                        "secs": round(time.time() - t0, 1)})
        print(f"{m['id']}: {status}"
              + (f" by {killed_by}" if killed_by else "")
              + f"  ({m['desc']})")

    # the tree must be byte-identical to where we started
    run(["sbt", "-batch", "compile"])  # leave compiled state clean too
    dirty = "\n".join(dirty_lines())
    summary = {
        "mutants": results,
        "n": len(results),
        "killed": sum(1 for r in results if r["status"] == "KILLED"),
        "clean_tree_after": not dirty,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if write_json:
        with open(write_json, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {write_json}")
    ok = summary["killed"] == summary["n"] and not dirty
    print(f"{summary['killed']}/{summary['n']} mutants killed; "
          f"tree clean: {not dirty}")
    sys.exit(0 if ok else 1)


def strip(m):
    return {"id": m["id"], "desc": m["desc"], "file": m["file"],
            "queries": m["queries"], "fuzz_seed": m.get("fuzz_seed", 17)}


if __name__ == "__main__":
    main()
