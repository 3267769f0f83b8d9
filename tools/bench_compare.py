"""Diff two bench artifacts: totals, biggest per-query deltas, and the
environment fingerprints side by side.

``python tools/bench_compare.py OLD.json NEW.json [top_n]``

Reads the artifacts bench.py writes (BENCH_last_run.json, or the blessed
BENCH_local.json).  The env fingerprint (loadavg, memory, JVM count,
calibration microbenchmarks) is what turns a "+16% across the board"
into either "host was loaded, calibration moved the same way" or "same
machine state, so it's the code" in one read.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    old, new = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    for key, label in (("value", "steady"), ("cold_value", "cold")):
        a, b = old.get(key), new.get(key)
        if a and b:
            print(f"{label:>7}: {a:8.2f} -> {b:8.2f}  ({(b - a) / a:+.1%})")

    # Calibration-normalized ratio: divide the raw
    # steady-total ratio by the CPU-calibration ratio so host slowdown
    # cancels mechanically.  calib_cpu_2m_ms is a fixed single-thread
    # 2M-iteration microbench recorded by bench.py on the same host
    # seconds before the queries ran — if the host is 18% slower, the
    # calibration is 18% slower too, and the normalized ratio isolates
    # the code's contribution.  (Normalization assumes CPU-bound drift;
    # a loadavg spike mid-run can still skew individual queries.)
    def _calib(art: dict):
        """Mean of the start/end calibration samples — the SAME estimator
        bench.py uses for vs_blessed_normalized, so both tools print
        identical ratios for the same artifacts (the mean and the
        start-only sample can disagree by >50% on a host whose speed
        swings mid-run)."""
        e = art.get("env") or {}
        c1 = e.get("calib_cpu_2m_ms")
        c2 = e.get("calib_cpu_2m_ms_after", c1)
        return (c1 + c2) / 2 if c1 else None

    a, b = old.get("value"), new.get("value")
    co, cn = _calib(old), _calib(new)
    if a and b and co and cn:
        raw, calib = b / a, cn / co
        print(f"normalized: raw ratio {raw:.3f} / calib ratio {calib:.3f} "
              f"= {raw / calib:.3f}  "
              f"(>1 = code slower after discounting host speed)")
    for art, label in ((old, "OLD"), (new, "NEW")):
        if art.get("calib_unstable"):
            print(f"WARNING: {label} run flagged calib_unstable — host "
                  f"speed moved during the run; ratios above are suspect")

    qo, qn = old.get("queries") or {}, new.get("queries") or {}
    shared = sorted(set(qo) & set(qn), key=lambda n: abs(qn[n] - qo[n]),
                    reverse=True)
    only_old, only_new = sorted(set(qo) - set(qn)), sorted(set(qn) - set(qo))
    so, sn = sum(qo[n] for n in shared), sum(qn[n] for n in shared)
    if shared:
        print(f"\nshared {len(shared)} queries: {so:.2f} -> {sn:.2f} "
              f"({(sn - so) / so:+.1%}); largest deltas:")
        for n in shared[:top_n]:
            print(f"  {n:<40} {qo[n]:7.3f} -> {qn[n]:7.3f}  "
                  f"({qn[n] - qo[n]:+.3f})")
    if only_old:
        print(f"only in OLD: {only_old}")
    if only_new:
        print(f"only in NEW: {only_new}")

    eo, en = old.get("env") or {}, new.get("env") or {}
    if eo or en:
        print("\nenv fingerprint:")
        for k in sorted(set(eo) | set(en)):
            print(f"  {k:<22} {eo.get(k)!s:>22} | {en.get(k)!s}")
    else:
        print("\n(no env fingerprint in either artifact)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
