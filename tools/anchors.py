#!/usr/bin/env python3
"""Machine-readable per-query bench anchor bands.

Local tooling (like tools/check.py): turns certified full bench runs
into committed ANCHORS.json bands, and diffs any later BENCH reading
against them so host-contamination is self-evident instead of costing
a manual exoneration pass (the r17 driver series read 4-47x on
untouched queries in alphabetically CONTIGUOUS windows - the burst
signature this checker detects mechanically).

Usage:
  # (re)build bands from one or more CERTIFIED full bench outputs
  # (the one-line JSON graft.Bench prints, saved to a file); later
  # files override earlier ones per query only for min/median pooling
  python3 tools/anchors.py build ANCHORS.json run1.json [run2.json ...]

  # diff a bench reading (driver BENCH_rN.json with its truncated
  # 'tail', or a raw graft.Bench line) against the bands
  python3 tools/anchors.py check ANCHORS.json BENCH_r18.json

Band convention (recorded in the file): per query over the pooled
certified runs, lo = min/2.5 and hi = max(3*median, median+1.5s) -
multiplicative for CPU-bound rows, an absolute 1.5 s floor so
sub-second rows aren't flagged on scheduler jitter. A row outside
[lo, hi] is "off-anchor"; 3+ ALPHABETICALLY CONTIGUOUS high rows are
reported as a contamination window (host steal sweeping an
alphabetically-ordered suite), distinct from isolated regressions.
Optional per-query "confirmed" entries record judge/solo re-times.
"""
import json
import re
import statistics
import sys


def load_query_map(path):
    """Per-query seconds from either a raw graft.Bench line or a
    driver BENCH_rN.json (whose 'tail' truncates the line: parse
    whatever q_*:sec pairs survive, plus parsed.slowest)."""
    with open(path) as f:
        raw = f.read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    out = {}
    meta = {}
    if isinstance(d, dict) and isinstance(d.get("queries"), dict):
        out.update(d["queries"])
        meta = {k: d[k] for k in ("value", "valid", "canary_ratio", "sf")
                if k in d}
    elif isinstance(d, dict) and ("tail" in d or "parsed" in d):
        text = d.get("tail", "")
        for m in re.finditer(r'"((?:q\d+|q)_[0-9a-z_]+)":([0-9.]+)', text):
            out[m.group(1)] = float(m.group(2))
        parsed = d.get("parsed") or {}
        for k, v in (parsed.get("slowest") or {}).items():
            out[k] = float(v)
        meta = {k: parsed[k] for k in
                ("value", "valid", "canary_ratio", "queries_n")
                if k in parsed}
    else:
        # raw line possibly wrapped in logs: find the metric json
        m = re.search(r'\{"metric".*\}', raw)
        if m:
            d = json.loads(m.group(0))
            out.update(d.get("queries", {}))
            meta = {k: d[k] for k in ("value", "valid", "canary_ratio")
                    if k in d}
    return {k: float(v) for k, v in out.items()}, meta


def build(out_path, run_paths):
    pooled = {}
    for p in run_paths:
        qs, meta = load_query_map(p)
        if meta.get("valid") is False:
            print(f"warning: {p} has valid=false, pooling anyway",
                  file=sys.stderr)
        for q, s in qs.items():
            pooled.setdefault(q, []).append(s)
    bands = {}
    for q, xs in sorted(pooled.items()):
        med = statistics.median(xs)
        bands[q] = {
            "band_lo": round(min(xs) / 2.5, 3),
            "band_hi": round(max(3 * med, med + 1.5), 3),
            "median": round(med, 3),
            "n_runs": len(xs),
        }
    doc = {
        "convention": ("lo=min/2.5, hi=max(3*median, median+1.5s) over "
                       "the pooled certified runs listed in 'sources'; "
                       "sf0.1 local[32] min-of-3 per query"),
        "sources": run_paths,
        "queries": bands,
    }
    # keep judge-confirmed solo anchors from a previous ANCHORS.json
    try:
        with open(out_path) as f:
            prev = json.load(f)
        for q, e in prev.get("queries", {}).items():
            if "confirmed" in e and q in bands:
                bands[q]["confirmed"] = e["confirmed"]
    except (OSError, json.JSONDecodeError):
        pass
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(bands)} anchor bands to {out_path}")


def check(anchors_path, bench_path):
    with open(anchors_path) as f:
        anchors = json.load(f)["queries"]
    qs, meta = load_query_map(bench_path)
    if not qs:
        print("no per-query readings parseable from", bench_path)
        return 2
    high, low, ok, unknown = [], [], [], []
    for q in sorted(qs):
        if q not in anchors:
            unknown.append(q)
            continue
        b = anchors[q]
        s = qs[q]
        if s > b["band_hi"]:
            high.append((q, s, b))
        elif s < b["band_lo"]:
            low.append((q, s, b))
        else:
            ok.append(q)
    print(f"{bench_path}: {len(qs)} readings parsed "
          f"(meta: {json.dumps(meta)})")
    print(f"  in-band {len(ok)}, above-band {len(high)}, "
          f"below-band {len(low)}, no-anchor {len(unknown)}")
    for q, s, b in high:
        extra = (f" confirmed={b['confirmed']}" if "confirmed" in b else "")
        print(f"  HIGH {q}: {s:.2f}s vs band "
              f"[{b['band_lo']}, {b['band_hi']}] (median {b['median']},"
              f" {s / b['median']:.1f}x){extra}")
    for q, s, b in low:
        print(f"  low  {q}: {s:.2f}s vs band "
              f"[{b['band_lo']}, {b['band_hi']}]")
    if unknown:
        print(f"  no anchor yet: {', '.join(unknown)}")
    # contamination signature: 3+ alphabetically contiguous HIGH rows
    # among the anchored readings
    ordered = [q for q in sorted(qs) if q in anchors]
    flags = [q in {h[0] for h in high} for q in ordered]
    windows = []
    i = 0
    while i < len(flags):
        if flags[i]:
            j = i
            while j + 1 < len(flags) and flags[j + 1]:
                j += 1
            if j - i + 1 >= 3:
                windows.append((ordered[i], ordered[j], j - i + 1))
            i = j + 1
        else:
            i += 1
    if windows:
        print("  CONTAMINATION SIGNATURE: alphabetically contiguous "
              "high windows (host-steal bursts, not per-query "
              "regressions):")
        for a, b, n in windows:
            print(f"    {a} .. {b} ({n} rows)")
    if high and not windows:
        if len(qs) < len(anchors):
            print("  high rows look isolated, but only "
                  f"{len(qs)}/{len(anchors)} readings were parseable "
                  "(truncated driver tail) - contiguity is not "
                  "assessable; re-time the flagged rows solo with "
                  "graft.tools.Prof <dir> <query> -r 2")
        else:
            print("  high rows are ISOLATED - candidate real "
                  "regressions; re-time solo with graft.tools.Prof "
                  "<dir> <query> -r 2 before judging")
    return 1 if (high and not windows) else 0


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "build":
        build(sys.argv[2], sys.argv[3:])
    elif cmd == "check":
        sys.exit(check(sys.argv[2], sys.argv[3]))
    else:
        print(__doc__)
        sys.exit(2)
