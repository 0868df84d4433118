#!/usr/bin/env python3
"""Round-over-round bench regression gate.

Compares per-query seconds between two bench artifacts and exits non-zero
when any query regresses beyond the threshold at equal config. Accepts both
artifact shapes:
  - builder artifacts (BENCH_ALL_r*.json / BENCH_LOCAL_r*.json): the bench
    JSON line itself, with a full `queries` map;
  - driver wrappers (BENCH_r*.json): `{n, rc, cpus, sf, tail, parsed}` where
    `parsed` is the bench JSON (its `queries` map holds the slowest-15 only).

Usage: python3 tools/benchdiff.py OLD.json NEW.json [threshold=1.5]

When both artifacts carry `codegen_compiles` (the classes each reported
run compiled), the per-query compile-count deltas are printed too; they
never gate.

Comparisons are only meaningful at equal host parallelism — round-5's
BENCH_ALL was recorded at non-default CPUs and poisoned the diff; the tool
warns (does not gate) when the wrappers carry differing `cpus`, and always
skips queries absent from either side (new queries can't regress; the
slowest-15 driver window shifts round to round).

Even at equal config, the container's effective core throughput drifts
run to run (the Bench `agg` note documents up to ~10x parallel-stage
variance), which inflates or deflates EVERY query by a common factor a
raw per-query threshold mistakes for wholesale regression. The gate
therefore normalizes each ratio by the MEDIAN ratio across shared
queries: a real plan regression is out of family, a slow host is the
family. Raw ratios are still printed.
"""
import sys, json, statistics

def load(path):
    raw = json.load(open(path))
    # Builder artifacts carry no cpus field; the project convention is that
    # committed artifacts are recorded at CPUS=4, so default missing to 4
    # rather than silently skipping the mismatch warning.
    cpus = raw.get("cpus", 4)
    if "parsed" in raw and isinstance(raw["parsed"], dict):
        raw = raw["parsed"]
    return (raw.get("queries", {}) or {}, raw.get("value"), cpus,
            raw.get("cores_eff", {}) or {},
            (raw.get("canary_first_sec"), raw.get("canary_last_sec")),
            raw.get("canary_last_raw_sec"), raw.get("codegen_compiles"))

def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old_q, old_total, old_cpus, old_eff, old_can, old_raw, old_cg = load(sys.argv[1])
    new_q, new_total, new_cpus, new_eff, new_can, new_raw, new_cg = load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    # Sub-0.3s timings are dominated by scheduler noise at local[N]; a 1.5x
    # blip there is not a plan regression.
    floor = 0.3

    if old_cpus != new_cpus:
        print(f"WARN: cpus differ (old={old_cpus} new={new_cpus}); "
              "diff is advisory only")
        thr = float("inf")

    # A query that ran before but records -1 now (Bench's crash/timeout
    # marker) is the worst regression there is — it must gate, not be
    # silently excluded from the ratio pool.
    died = sorted(n for n in set(old_q) & set(new_q)
                  if float(old_q[n]) >= 0 and float(new_q[n]) < 0)
    for name in died:
        print(f"FAILED {name}: {float(old_q[name]):.3f} s -> "
              "crash/timeout (-1)")
    shared = sorted(n for n in set(old_q) & set(new_q)
                    if float(old_q[n]) > 0 and float(new_q[n]) >= 0)
    ratios = {n: float(new_q[n]) / float(old_q[n]) for n in shared}
    med = statistics.median(ratios.values()) if ratios else 1.0

    regressed = sorted(
        ((n, float(old_q[n]), float(new_q[n]), ratios[n], ratios[n] / med)
         for n in shared
         if ratios[n] / med >= thr and float(new_q[n]) >= floor),
        key=lambda r: -r[4])
    improved = sorted(((n, float(old_q[n]), float(new_q[n]))
                       for n in shared
                       if ratios[n] / med <= 1 / thr
                       and float(old_q[n]) >= floor),
                      key=lambda r: r[2] / r[1])

    print(f"shared={len(shared)} old_only={len(set(old_q)-set(new_q))} "
          f"new_only={len(set(new_q)-set(old_q))} "
          f"total {old_total} -> {new_total} sec "
          f"(median per-query ratio {med:.2f}x — host drift baseline)")
    # r10+ artifacts carry a fixed CPU-bound canary timed first/last per
    # session: the canary ratio is the host-window normalizer measured
    # independently of any query, so a high median ratio WITH a matching
    # canary ratio is a slow window, not a slow tree. Since r12 the
    # canary-NORMALIZED deltas are emitted by default alongside raw
    # (verdict #3: adjudicating a degraded-window artifact needed manual
    # rescue in r10 and r11) — every wall on the new side is discounted by
    # the window ratio before comparison, so a slow host reads as ~1.0x
    # normalized and a real plan regression stays out of family under
    # BOTH normalizers.
    wr = None
    if all(c is not None for c in (old_can + new_can)):
        oc = (float(old_can[0]) + float(old_can[1])) / 2
        nc = (float(new_can[0]) + float(new_can[1])) / 2
        # r12 convention change: canary_last_sec is read from a CLEAN
        # slate (the raw aged-session reading moved to
        # canary_last_raw_sec). A diff across the convention boundary
        # mixes an aging-inflated old close with a clean new close — the
        # window ratio then understates the new side. Warn so the reader
        # weighs the median ratio instead.
        if old_raw is None and new_raw is not None:
            print("WARN: old artifact predates the clean-close canary "
                  "(r12); window ratio mixes conventions — prefer the "
                  "median per-query ratio for this pair")
        if oc > 0 and nc > 0:
            wr = nc / oc
            print(f"canary: old {old_can[0]}/{old_can[1]} s, "
                  f"new {new_can[0]}/{new_can[1]} s -> window ratio "
                  f"{wr:.2f}x (compare to the median above)")
            if old_total and new_total:
                print(f"canary-normalized total: {float(old_total):.1f} -> "
                      f"{float(new_total) / wr:.1f} sec "
                      f"({float(new_total) / wr / float(old_total):.2f}x norm, "
                      f"{float(new_total) / float(old_total):.2f}x raw)")
    for name, a, b, r, nr in regressed:
        # cores_eff (r8+ artifacts): the in-artifact adjudicator — a flag
        # whose effective parallelism is low (<= ~1.5) is latency-bound
        # (driver rounds / tiny stages), where wall time is scheduler
        # jitter; a CPU-bound regression would hold eff while task time
        # grew. Printed so BENCH_NOTES adjudication reads off this output.
        effs = []
        if name in old_eff:
            effs.append(f"old_eff={old_eff[name]}")
        if name in new_eff:
            effs.append(f"new_eff={new_eff[name]}")
        # Jitter tag only when the query was ALSO latency-bound before (or
        # eff is roughly unchanged): a plan that serialized a formerly
        # parallel query lands at eff~1 too, and must be flagged as a
        # possible serialization regression, not excused as jitter
        # (r8 advice).
        tag = ""
        if name in new_eff and float(new_eff[name]) <= 1.5:
            oe = float(old_eff[name]) if name in old_eff else None
            ne = float(new_eff[name])
            if oe is None or oe <= 1.5 or ne >= oe * 0.6:
                tag = "  [latency-bound: likely host jitter]"
            else:
                tag = ("  [EFF DROP %.1f -> %.1f with wall increase: "
                       "possible serialization regression]" % (oe, ne))
        cn = f", {r / wr:.2f}x canary-norm" if wr else ""
        print(f"REGRESSED {name}: {a:.3f} -> {b:.3f} "
              f"({r:.2f}x raw, {nr:.2f}x vs median{cn})"
              + (f"  [{', '.join(effs)}]" if effs else "") + tag)
    for name, a, b in improved[:10]:
        print(f"improved  {name}: {a:.3f} -> {b:.3f} "
              f"({b/a:.2f}x raw, {b/a/med:.2f}x vs median)")
    # Codegen compiles of each reported run (artifacts since the field
    # exists): a plan change that compiles more classes shows here even
    # when its wall is inside the noise. Informational, never gating.
    if old_cg is not None and new_cg is not None:
        both = sorted(set(old_cg) & set(new_cg))
        moved = sorted(((n, int(old_cg[n]), int(new_cg[n])) for n in both
                        if old_cg[n] != new_cg[n]),
                       key=lambda r: (-abs(r[2] - r[1]), r[0]))
        print(f"codegen compiles: {sum(int(old_cg[n]) for n in both)} -> "
              f"{sum(int(new_cg[n]) for n in both)} over {len(both)} shared "
              f"queries, {len(moved)} changed")
        for name, a, b in moved:
            print(f"codegen   {name}: {a} -> {b} compiles ({b - a:+d})")
    if died:
        print(f"FAIL: {len(died)} quer{'y' if len(died)==1 else 'ies'} "
              "went from passing to crash/timeout")
        return 1
    if regressed:
        print(f"FAIL: {len(regressed)} quer{'y' if len(regressed)==1 else 'ies'} "
              f"regressed >= {thr}x vs the median ratio")
        return 1
    print("OK: no out-of-family per-query regression at threshold")
    return 0

if __name__ == "__main__":
    sys.exit(main())
