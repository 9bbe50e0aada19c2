#!/usr/bin/env python3
"""Automated bench-drift grading (r16, VERDICT task 5): diff two bench
records (the Bench.scala full-line JSON — BENCH_LAST.json, or any line
containing it) and emit the verdict-ready report the BENCH_NOTES "Grading
benches" contract prescribes, so neither judge nor builder re-derives it
by hand each round:

  1. plan fingerprints (plan_jobs_stages): a moved [jobs, stages] pair is
     a PLAN CHANGE — list it; unchanged fingerprints make wall-time drift
     attributable to environment.
  2. shuffle bytes (shuffle_rw_spill_bytes read+write): a >1% move with an
     unchanged fingerprint is AQE partition jitter (informational); a >10%
     move is flagged for reading.
  3. spill: any nonzero value on either side is a red flag, always listed.
  4. time: total and median per-query ratio; the top movers are listed
     with their attribution (PLAN if the fingerprint moved, BYTES if >10%,
     else ENVIRONMENT) — the per-job host-latency tax documented since r13
     makes unattributed wall-time the least trustworthy signal here.

Moves of the queries named in known_flaky.txt (next to this script:
fingerprints that flip between shapes from run to run on one commit) are
listed under a heading of their own, after the other moves; none is
dropped.

Usage: benchdiff.py OLD_JSON NEW_JSON [--json OUT]
Exit 0 always (a report, not a gate): gating stays with the human reading
it, because an intentional plan change is routine."""
import json, os, re, statistics, sys

def known_flaky():
    """Query names in known_flaky.txt, one per line, '#' comments."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "known_flaky.txt")
    with open(path) as f:
        return {l.split("#")[0].strip() for l in f} - {""}

def load(path):
    txt = open(path).read()
    # accept a raw Bench line, a file containing one, or a driver wrapper
    for line in txt.splitlines():
        m = re.search(r'\{"metric":"total".*\}', line)
        if m:
            try:
                d = json.loads(m.group(0))
                if "queries" in d and "plan_jobs_stages" in d:
                    return d
            except json.JSONDecodeError:
                continue
    raise SystemExit(f"{path}: no full bench line with plan_jobs_stages found")

def main():
    argv = sys.argv[1:]
    out_json = None
    if "--json" in argv:
        i = argv.index("--json")
        out_json = argv[i + 1]
        del argv[i:i + 2]  # remove the flag AND its value from positionals
    if len(argv) != 2:
        raise SystemExit("usage: benchdiff.py OLD_JSON NEW_JSON [--json OUT]")
    old, new = load(argv[0]), load(argv[1])
    oq, nq = old["queries"], new["queries"]
    of, nf = old["plan_jobs_stages"], new["plan_jobs_stages"]
    ob, nb = old.get("shuffle_rw_spill_bytes", {}), new.get("shuffle_rw_spill_bytes", {})
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    fp_moves = {q: {"old": of.get(q), "new": nf.get(q)}
                for q in shared if of.get(q) != nf.get(q)}
    byte_moves, spills = {}, {}
    # the bytes field first appears in the r15 bench — a record without it
    # must read as "not measured", never as zero bytes
    bytes_comparable = bool(ob) and bool(nb)
    for q in shared if bytes_comparable else []:
        orw = sum(ob.get(q, [0, 0, 0])[:2])
        nrw = sum(nb.get(q, [0, 0, 0])[:2])
        osp, nsp = ob.get(q, [0, 0, 0])[2], nb.get(q, [0, 0, 0])[2]
        if osp or nsp:
            spills[q] = {"old_spill": osp, "new_spill": nsp}
        if orw == 0 and nrw == 0:
            continue
        rel = abs(nrw - orw) / max(orw, nrw)
        if rel > 0.01:
            byte_moves[q] = {"old_rw": orw, "new_rw": nrw,
                             "pct": round(100.0 * (nrw - orw) / max(orw, 1), 2)}

    ratios = {q: nq[q] / oq[q] for q in shared if oq[q] > 0}
    total_old = sum(oq[q] for q in shared)
    total_new = sum(nq[q] for q in shared)
    total_ratio = total_new / total_old if total_old > 0 else float("nan")
    med = statistics.median(ratios.values()) if ratios else float("nan")

    flaky = known_flaky()

    def attribution(q):
        if q in fp_moves:
            return "PLAN (fingerprint moved%s)" % ("; known-flaky" if q in flaky else "")
        if q in byte_moves and abs(byte_moves[q]["pct"]) > 10:
            return f"BYTES ({byte_moves[q]['pct']:+.1f}% shuffle rw)"
        # when one record predates the bytes field, byte_moves is empty BY
        # CONSTRUCTION — never claim "bytes stable" we didn't measure
        if not bytes_comparable:
            return "ENVIRONMENT (fingerprint stable; bytes not measured)"
        return "ENVIRONMENT (fingerprint + bytes stable)"

    movers = sorted(((q, r) for q, r in ratios.items()
                     if nq[q] - oq[q] > 0.5 and (r > 1.3 or r < 0.77)),
                    key=lambda kv: -abs(kv[1] - 1))[:15]
    fast_movers = sorted(((q, r) for q, r in ratios.items()
                          if oq[q] - nq[q] > 0.5 and r < 0.77),
                         key=lambda kv: kv[1])[:10]

    print(f"== benchdiff: {argv[0]} -> {argv[1]} ==")
    print(f"queries: {len(shared)} shared, {len(added)} added, {len(removed)} removed")
    if added:
        print(f"  added:   {', '.join(added)}")
    if removed:
        print(f"  removed: {', '.join(removed)}")
    print(f"total (shared): {total_old:.1f}s -> {total_new:.1f}s  "
          f"ratio {total_ratio:.3f}   median per-query ratio {med:.3f}")
    def print_fp(moves):
        for q, m in sorted(moves.items()):
            print(f"  {q}: {m['old']} -> {m['new']}  "
                  f"({oq[q]:.2f}s -> {nq[q]:.2f}s)")

    def print_bytes(moves):
        for q, m in sorted(moves.items(), key=lambda kv: -abs(kv[1]["pct"]))[:20]:
            tag = "" if q in fp_moves else "  [jitter]" if abs(m["pct"]) <= 10 else "  [READ ME]"
            print(f"  {q}: {m['old_rw']} -> {m['new_rw']} bytes ({m['pct']:+.1f}%){tag}")

    steady_fp = {q: m for q, m in fp_moves.items() if q not in flaky}
    steady_bytes = {q: m for q, m in byte_moves.items() if q not in flaky}
    print(f"\nfingerprint moves (PLAN changes): {len(steady_fp)}")
    print_fp(steady_fp)
    if not bytes_comparable:
        print("\nshuffle-bytes: not comparable (one record predates the "
              "shuffle_rw_spill_bytes field)")
    print(f"\nshuffle-bytes moves >1% (fingerprint-stable ones are AQE "
          f"partition jitter): {len(steady_bytes)}")
    print_bytes(steady_bytes)
    flaky_fp = {q: m for q, m in fp_moves.items() if q in flaky}
    flaky_bytes = {q: m for q, m in byte_moves.items() if q in flaky}
    print(f"\nknown-flaky queries (known_flaky.txt; one pair cannot tell a "
          f"plan change from a flip): {len(flaky_fp)} fingerprint moves, "
          f"{len(flaky_bytes)} shuffle-bytes moves >1%")
    print_fp(flaky_fp)
    print_bytes(flaky_bytes)
    print(f"\nspill (red flag if nonzero): {len(spills)}")
    for q, s in sorted(spills.items()):
        print(f"  {q}: {s}")
    print(f"\ntop slowdowns >0.5s and >1.3x, with attribution: {len(movers)}")
    for q, r in movers:
        print(f"  {q}: {oq[q]:.2f}s -> {nq[q]:.2f}s ({r:.2f}x)  {attribution(q)}")
    if fast_movers:
        print(f"\ntop speedups >0.5s and <0.77x:")
        for q, r in fast_movers:
            print(f"  {q}: {oq[q]:.2f}s -> {nq[q]:.2f}s ({r:.2f}x)  {attribution(q)}")

    if out_json:
        with open(out_json, "w") as f:
            json.dump({"total_ratio": total_ratio,
                       "median_ratio": med,
                       "added": added, "removed": removed,
                       "fingerprint_moves": fp_moves,
                       "known_flaky": sorted(flaky),
                       "byte_moves": byte_moves, "spills": spills},
                      f, indent=1, sort_keys=True)
        print(f"\nwrote {out_json}")

if __name__ == "__main__":
    main()
