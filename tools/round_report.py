#!/usr/bin/env python3
"""Generate the end-of-round headline block of OPTIMIZATION_r{N}.md FROM
the committed end-of-round artifacts (VERDICT r17 #8: mid-round quiet-box
numbers kept contradicting the final regen — so the report's numbers are
now produced by this script and grep-match the JSON they cite).

Usage: tools/round_report.py <round> [--write]
Reads (tolerant of missing files):
  bench_detail_cpus32_sf0.1.json      (final full sf0.1 capture)
  BENCH_r{N-1}.json                   (driver prior, for per-query deltas)
  BENCH_r{N}_sf10.json                (sf1/sf10 subset audit)
  BENCH_r{N}_stream.json              (soak, incl. index_growth)
  BENCH_r{N}_scaling_c32.json / _c8.json
With --write, replaces the block between ROUND_REPORT_BEGIN/END markers
in OPTIMIZATION_r{N}.md; otherwise prints to stdout.
"""
import json
import sys


def load(path):
    try:
        with open(path) as f:
            d = json.load(f)
        return d.get("parsed") or d
    except Exception:
        return None


def main():
    rnd = int(sys.argv[1])
    write = "--write" in sys.argv
    out = []

    cur = load("bench_detail_cpus32_sf0.1.json")
    prev = load(f"BENCH_r{rnd - 1}.json")
    if cur and cur.get("value") is not None:
        queries = cur.get("queries") or {}
        pv = prev.get("value") if prev else None
        out.append(f"- **Full sf0.1 cpus32 bench** "
                   f"(`bench_detail_cpus32_sf0.1.json`): "
                   f"**{cur['value']:.2f} s / {len(queries)} queries**"
                   + (f" (r{rnd-1} driver capture: {pv:.2f} s)"
                      if pv is not None else ""))
        top = sorted(queries.items(), key=lambda kv: -kv[1])[:8]
        out.append("  - slowest: " + ", ".join(
            f"{k} {v:.2f}" for k, v in top))
        prevq = (prev.get("queries") or {}) if prev else {}
        if prevq:
            both = {k: (prevq[k], v)
                    for k, v in queries.items() if k in prevq}
            imp = sorted(both.items(), key=lambda kv: kv[1][1] - kv[1][0])[:8]
            out.append("  - biggest deltas vs the r%d driver detail: " % (rnd-1)
                       + ", ".join(f"{k} {a:.2f}->{b:.2f}"
                                   for k, (a, b) in imp))

    sf10 = load(f"BENCH_r{rnd}_sf10.json")
    if sf10:
        t1 = sf10.get("sf1_total")
        t10 = sf10.get("sf10_total")
        if t1 and t10 and sf10.get("growth_10x_data") is not None:
            out.append(f"- **sf10 subset audit** (`BENCH_r{rnd}_sf10.json`): "
                       f"sf1 {t1:.1f} s -> sf10 {t10:.1f} s warm = "
                       f"**{sf10.get('growth_10x_data')}x/decade**")
        fams = sf10.get("families") or {}
        if fams:
            worst = sorted(fams.items(),
                           key=lambda kv: -(kv[1].get("growth_10x_data") or 0))
            out.append("  - family sf10 secs (growth x/decade): " + ", ".join(
                f"{k} {v.get('sf10_secs')} ({v.get('growth_10x_data')})"
                for k, v in worst))
        for key in ("artifact_builds_sf1", "artifact_builds_sf10"):
            blk = sf10.get(key)
            if isinstance(blk, dict) and blk:
                tot = sum(v.get("build_secs", 0) for v in blk.values()
                          if isinstance(v, dict))
                rows = sorted(blk.items(),
                              key=lambda kv: -(kv[1].get("build_secs", 0)
                                               if isinstance(kv[1], dict) else 0))
                out.append(f"  - {key}: total {tot:.1f} s — " + ", ".join(
                    f"{v.get('kind', k)} {v.get('build_secs', 0):.1f}"
                    for k, v in rows[:8] if isinstance(v, dict)))
        sr = sf10.get("shard_reps_sf10")
        if isinstance(sr, dict):
            out.append(f"  - shard_reps_sf10: {json.dumps(sr)[:220]}")

    for tag in ("", "_sf10"):
        s32 = load(f"BENCH_r{rnd}_scaling{tag}_c32.json") if tag else \
            load(f"BENCH_r{rnd}_scaling_c32.json")
        s8 = load(f"BENCH_r{rnd}_scaling{tag}_c8.json") if tag else \
            load(f"BENCH_r{rnd}_scaling_c8.json")
        if s32 and s8 and s32.get("value") is not None \
                and s8.get("value") is not None:
            out.append(f"- **Scaling legs{tag or ' (sf1)'}** "
                       f"(`BENCH_r{rnd}_scaling{tag}_c{{32,8}}.json`, "
                       f"sf={s32.get('sf')}): c32 {s32['value']:.1f} s, "
                       f"c8 {s8['value']:.1f} s / {s32.get('n_queries')} queries")
            q8 = s8.get("queries") or {}
            ratios = {k: q8[k] / v
                      for k, v in (s32.get("queries") or {}).items()
                      if k in q8 and v > 0}
            if ratios:
                top = sorted(ratios.items(), key=lambda kv: -kv[1])
                out.append("  - cpus8/cpus32 wall ratios (core ratio 4): " +
                           ", ".join(f"{k} {v:.2f}" for k, v in top))

    stream = load(f"BENCH_r{rnd}_stream.json")
    if stream:
        for k in ("bm25_index_growth", "vec_index_growth"):
            sec = stream.get(k) or (stream.get("sections") or {}).get(k)
            if isinstance(sec, dict):
                out.append(f"- **{k}** (`BENCH_r{rnd}_stream.json`): "
                           f"tail-mean 1x {sec.get('tail_mean_1x')} s -> "
                           f"2x {sec.get('tail_mean_2x')} s, growth_ratio "
                           f"{sec.get('growth_ratio')}")

    block = "\n".join(out) + "\n"
    if write:
        path = f"OPTIMIZATION_r{rnd}.md"
        txt = open(path).read()
        b = "<!-- ROUND_REPORT_BEGIN -->"
        e = "<!-- ROUND_REPORT_END -->"
        pre, rest = txt.split(b, 1)
        _, post = rest.split(e, 1)
        open(path, "w").write(pre + b + "\n" + block + e + post)
        print(f"wrote block into {path}")
    else:
        print(block)


if __name__ == "__main__":
    main()
