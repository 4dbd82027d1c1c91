#!/usr/bin/env python3
"""Wakeup-tax model (r17 VERDICT item 4): join AUDIT.json's
per-query executed-stage counts to two bench records and decompose the
hot record's slowdown into a UNIFORM box factor plus a PER-STAGE tax.

Model:  hot_s(q) = a * ref_s(q) + c * rt_stages(q)

fit by two-parameter least squares over queries present in both
records. `a` is the box-speed multiplier every query pays regardless
of shape (CPU/bandwidth pressure); `c` is the additional seconds each
stage BARRIER costs on a parked-vCPU host — each stage wave ends on a
straggler wakeup plus several scheduler revive cycles, so c is
expected to be a small multiple of wake_p99 (µs) when the host is
degraded and ~0 when healthy. A stage-heavy query (q156-class: many
cheap barriers) then reads far above the uniform factor exactly as
observed, and the dispute becomes arithmetic: is hot/ref ≈
(a + c·stages/ref)?

Usage: wake_tax.py BENCH_hot.json BENCH_ref.json AUDIT.json
"""
import json
import sys


def load_bench(path):
    d = json.load(open(path))
    return {k: v for k, v in d.get("queries", {}).items() if v > 0}, d


def main():
    hot_path, ref_path, audit_path = sys.argv[1:4]
    hot, hot_rec = load_bench(hot_path)
    ref, ref_rec = load_bench(ref_path)
    stages = {k: v["rt_stages"]
              for k, v in json.load(open(audit_path))["queries"].items()}
    common = sorted(set(hot) & set(ref) & set(stages))
    # least squares for hot = a*ref + c*stages (normal equations)
    srr = sum(ref[q] * ref[q] for q in common)
    sss = sum(stages[q] * stages[q] for q in common)
    srs = sum(ref[q] * stages[q] for q in common)
    shr = sum(hot[q] * ref[q] for q in common)
    shs = sum(hot[q] * stages[q] for q in common)
    det = srr * sss - srs * srs
    a = (shr * sss - shs * srs) / det
    c = (shs * srr - shr * srs) / det
    # R^2 of the two-parameter model vs the best uniform-only model
    mh = sum(hot.values()) / len(common)
    sst = sum((hot[q] - mh) ** 2 for q in common)
    sse = sum((hot[q] - a * ref[q] - c * stages[q]) ** 2 for q in common)
    a1 = shr / srr  # uniform-only fit for comparison
    sse1 = sum((hot[q] - a1 * ref[q]) ** 2 for q in common)
    print(f"common={len(common)} box_factor_a={a:.2f} "
          f"tax_per_stage_ms={c*1000:.1f} "
          f"hot_wake_p99_us={hot_rec.get('wake_p99_us')} "
          f"ref_wake_p99_us={ref_rec.get('wake_p99_us')} "
          f"R2_two_param={1-sse/sst:.2f} R2_uniform_only={1-sse1/sst:.2f}")
    print(f"{'query':32s} {'stages':>6s} {'hot_s':>7s} {'ref_s':>7s} "
          f"{'model_s':>8s} {'resid_s':>8s}")
    rows = [(q, stages[q], hot[q], ref[q], a * ref[q] + c * stages[q])
            for q in common]
    for q, s, h, r, m in sorted(rows, key=lambda t: -t[1])[:15]:
        print(f"{q:32s} {s:6d} {h:7.2f} {r:7.2f} {m:8.2f} {h-m:8.2f}")


if __name__ == "__main__":
    main()
