#!/usr/bin/env python3
"""Dev helper: render a graft.Probe JSON line (`Probe scale` or
`Probe serve`; the older SCALEPROBE_*/SERVEPROBE_* files too) as the
markdown table SCALING.md's probe sections use. Shows the chosen pass for each
mult plus the per-step log-log slope; flags any slope over 1.5.

Usage: python3 scripts/probe_table.py probe.json [pass]
  pass: 1 (cold build) or 2 (steady, default)
"""
import sys, json, math


def main(argv):
    d = json.loads(open(argv[0]).read().strip())
    idx = (int(argv[1]) - 1) if len(argv) > 1 else 1
    mults = d["mults"]
    label = "pass %d" % (idx + 1)
    heads = ["query (%s)" % label] + ["m%d s" % m for m in mults] + [
        "α(%d→%d)" % (a, b) for a, b in zip(mults, mults[1:])]
    print("| " + " | ".join(heads) + " |")
    print("|" + "---|" * len(heads))
    flagged = []
    mx = (float("-inf"), "")
    for q in sorted(d["queries"]):
        v = d["queries"][q]
        ts = [v["m%d" % m][idx] for m in mults]
        cells = ["%.2f" % t if t is not None else "—" for t in ts]
        slopes = []
        for (a, b), (ta, tb) in zip(zip(mults, mults[1:]), zip(ts, ts[1:])):
            if ta and tb and ta > 0:
                s = math.log10(tb / ta) / math.log10(b / a)
                slopes.append("%.2f" % s)
                if s > mx[0]:
                    mx = (s, q)
                if s > 1.5:
                    flagged.append((q, a, b, s))
            else:
                slopes.append("—")
        print("| %s | %s |" % (q, " | ".join(cells + slopes)))
    print()
    print("max α: %.2f (%s); flagged (α > 1.5): %s"
          % (mx[0], mx[1], flagged or "none"))


if __name__ == "__main__":
    main(sys.argv[1:])
