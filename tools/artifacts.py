#!/usr/bin/env python3
"""Assemble the committed correctness artifacts from tools/check.py logs.

Usage:
  python3 tools/artifacts.py xl  <check_log> <docs> <emb> <out.json> [tier]
  python3 tools/artifacts.py multi <round> <what> <out.json> <tier>=<check_log> ...
  python3 tools/artifacts.py skew <check_log> <round> <what> <out.json>

The `xl` mode builds a CORRECTNESS_XL-style artifact (tier geometry header
plus per-query rows); `multi` builds the CORRECTNESS_MULTI_SF summary from
several tier logs; `skew` refreshes the per-query rows, round and
description of an existing CORRECTNESS_SKEW-style artifact (its tier
geometry header is kept) and fails unless every query passed. A check log
is the stdout of tools/check.py: lines `ok   <query>: <n> rows exact` /
`FAIL <query>: ...` and a final `<p>/<t> pass`.
"""
import sys, json, re, math


def parse(log_path):
    """Per-query rows from one or more concatenated check.py logs (a full
    sweep plus targeted --skip-verify re-checks of late-added queries);
    later lines override earlier ones, pass/total derive from the rows."""
    queries, saw_total = {}, False
    for line in open(log_path):
        m = re.match(r"^ok\s+(\S+): (\d+) rows exact", line)
        if m:
            queries[m.group(1)] = {"status": "ok",
                                   "detail": f"{m.group(2)} rows exact"}
            continue
        m = re.match(r"^FAIL\s+(\S+?):?\s+(.*)", line)
        if m:
            queries[m.group(1)] = {"status": "fail",
                                   "detail": m.group(2).strip()}
            continue
        if re.match(r"^\d+/\d+ pass", line):
            saw_total = True
    if not saw_total:
        raise SystemExit(f"{log_path}: no final pass line — sweep incomplete")
    p = sum(1 for q in queries.values() if q["status"] == "ok")
    return queries, p, len(queries)


def geometry(n_emb):
    planes = max(2, min(16, (max(1, (n_emb + 31) // 32) - 1).bit_length()))
    cents = max(16, int(math.isqrt(n_emb)))
    ppm = min(1000000, 30 * cents * 1000000 // n_emb)
    return {"planes_per_band": planes, "ivf_centroids": cents,
            "lloyd_sample_ppm": ppm}


def main():
    mode = sys.argv[1]
    if mode == "xl":
        log, docs, emb, out = sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
        tier = sys.argv[6] if len(sys.argv) > 6 else "testdata_xl"
        queries, p, t = parse(log)
        art = {"tier": tier, "docs": docs, "embeddings": emb,
               "geometry": geometry(emb), "pass": p, "total": t,
               "queries": queries}
        json.dump(art, open(out, "w"), indent=1)
        print(f"{out}: {p}/{t}")
    elif mode == "multi":
        rnd, what, out = int(sys.argv[2]), sys.argv[3], sys.argv[4]
        sweeps = {}
        for spec in sys.argv[5:]:
            tier, log = spec.split("=", 1)
            _, p, t = parse(log)
            sweeps[tier] = {"pass": p, "total": t}
        json.dump({"round": rnd, "what": what, "sweeps": sweeps},
                  open(out, "w"), indent=1)
        print(f"{out}: " + ", ".join(f"{k} {v['pass']}/{v['total']}"
                                     for k, v in sweeps.items()))
    elif mode == "skew":
        log, rnd, what, out = sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5]
        queries, p, t = parse(log)
        if p != t:
            raise SystemExit(f"{log}: {t - p} of {t} skew queries failed")
        art = json.load(open(out))
        art.update({"queries": queries, "pass": p, "total": t,
                    "round": rnd, "what": what})
        json.dump(art, open(out, "w"), indent=1)
        print("skew artifact refreshed:", t, "queries")
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
