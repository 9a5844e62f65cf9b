"""Compare two bench records (same-day code A/B): per-query ratios on
the common basis, flagged rows beyond 1.25x + spread.

Usage: python tools/bench_ab.py A B

A and B are each a ``BENCH_SELF.json`` or a saved ``bench.py`` stdout
(whose first line is the full record).  Rows whose ``[rows, xor_hash]``
output differs between A and B are listed and left out of every ratio:
a time is only compared for identical output.
"""
import json
import sys


def load(p):
    with open(p) as fh:
        text = fh.read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:  # bench.py stdout: full record first
        return json.loads(text.splitlines()[0])


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    qa, qb = a["queries"], b["queries"]
    sa, sb = a.get("noise_spread_sec", {}), b.get("noise_spread_sec", {})
    oa, ob = a.get("outputs", {}), b.get("outputs", {})
    differ = sorted(n for n in set(oa) & set(ob) if oa[n] != ob[n])
    common = sorted(set(qa) & set(qb) - set(differ))
    ratios = []
    flagged = []
    for n in common:
        if qa[n] <= 0:
            continue
        r = qb[n] / qa[n]
        ratios.append((r, n))
        spread = max(sa.get(n, 0.0), sb.get(n, 0.0))
        if qb[n] > qa[n] * 1.25 + spread:
            flagged.append((r, n, qa[n], qb[n], spread))
    ratios.sort()
    med = ratios[len(ratios) // 2][0]
    ta = sum(qa[n] for n in common)
    tb = sum(qb[n] for n in common)
    print(f"common rows: {len(common)}")
    if not (oa and ob):
        print("outputs not compared: a record has no per-row outputs")
    print(f"\noutputs differ ({len(differ)}, left out of the ratios):")
    for n in differ:
        print(f"  {n}: {oa[n]} -> {ob[n]}")
    print(f"\nA total {ta:.2f}s (load {a.get('host_loadavg_1m')}), "
          f"B total {tb:.2f}s (load {b.get('host_loadavg_1m')})")
    print(f"B/A total ratio {tb/ta:.3f}, per-query median {med:.3f}")
    print("\nflagged (B > 1.25*A + spread):")
    for r, n, va, vb, s in sorted(flagged, reverse=True):
        print(f"  {n}: {va:.2f} -> {vb:.2f} ({r:.2f}x, spread {s:.2f})")
    print("\nbest 8 (B faster):")
    for r, n in ratios[:8]:
        print(f"  {n}: {qa[n]:.2f} -> {qb[n]:.2f} ({r:.2f}x)")
    print("\nworst 8:")
    for r, n in ratios[-8:]:
        print(f"  {n}: {qa[n]:.2f} -> {qb[n]:.2f} ({r:.2f}x)")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
