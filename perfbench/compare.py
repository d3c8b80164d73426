#!/usr/bin/env python3
"""Compare two benchmark records (.bench_out/record-*.json).

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) when the two records were not measured under the same
conditions: workload, seed, inputs, cpus, heap, Spark or JDK version, trace
mode, or a host canary more than 15% apart. Otherwise prints each metric's
ratio NEW/BASE. The commits may differ; that is what is being compared.
"""
import json
import sys

SAME = ["workload", "seed", "input", "cpus", "heap_mb", "spark", "jdk", "trace"]
CANARY_TOLERANCE = 0.15


def main(base_path, new_path):
    with open(base_path) as f:
        base = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    sa, sb = base["stamp"], new["stamp"]
    diff = [f"{k}: {sa.get(k)!r} vs {sb.get(k)!r}" for k in SAME if sa.get(k) != sb.get(k)]
    ca, cb = sa["host_canary_ms"], sb["host_canary_ms"]
    if abs(cb - ca) > CANARY_TOLERANCE * ca:
        diff.append(f"host_canary_ms: {ca:.0f} vs {cb:.0f} (host speed differs)")
    if diff:
        print("refusing to compare records with different stamps:")
        for d in diff:
            print("  " + d)
        return 2
    print(f"{sa['workload']} seed {sa['seed']}: {sa['commit'][:12]} -> {sb['commit'][:12]}")
    for group in ("end_to_end", "per_layer"):
        for k, va in base[group].items():
            a = va["value"] if isinstance(va, dict) else va
            vb = new[group].get(k)
            b = vb["value"] if isinstance(vb, dict) else vb
            ratio = f"{b / a:.3f}x" if a and b is not None else "n/a"
            print(f"  {k:<28} {a!s:>16} {b!s:>16} {ratio}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
