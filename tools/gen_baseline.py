#!/usr/bin/env python3
"""Regenerate BASELINE.md's canonical per-query table (VERDICT r13 ask
#7). BASELINE.md's history sections are append-only — multiple rows per
query across rounds made the 2x bench gate ambiguous to recompute
(first- vs last-recorded rows differ by ~2% in summed total). This tool
derives ONE canonical row per query and rewrites the block between the
`<!-- baseline:begin -->` / `<!-- baseline:end -->` markers; the
history tables below it are the provenance appendix.

Canonical rule: the LAST `| <query> | 0.1 | <sec> |` row in file order
(i.e. the most recent re-record; three-column batch rows are how every
round has recorded baselines since r5). Multi-column probe tables are
scale evidence, not baseline rows, and are ignored here. Only queries
in SURVEY.md's generated registry table (which RegistryTableSpec keeps
equal to the code) get a canonical row, so a retired query's history
rows stay as provenance without reviving it; run
`tools/gen_registry.sh` first.

Usage: python3 tools/gen_baseline.py            # rewrite in place
       python3 tools/gen_baseline.py --check    # exit 1 if stale

Dev tooling only (like check_oracle.py) — the shipped Scala library has
no Python dependency. BaselineTableSpec asserts the committed block
covers the registry one-row-each.
"""
import re
import sys

BEGIN = "<!-- baseline:begin -->"
END = "<!-- baseline:end -->"
PATH = "BASELINE.md"

ROW = re.compile(r"^\| ([a-z][a-z0-9_]+) \| 0\.1 \| ([0-9]+\.?[0-9]*) \|")

REG_BEGIN = "<!-- registry:begin -->"
REG_END = "<!-- registry:end -->"
REG_ROW = re.compile(r"^\| ([a-z][a-z0-9_]+) \| ")


def registry() -> set[str]:
    """Query names in SURVEY.md's generated registry table."""
    txt = open("SURVEY.md").read()
    b, e = txt.find(REG_BEGIN), txt.find(REG_END)
    if b < 0 or e < 0 or e <= b:
        raise SystemExit("SURVEY.md lacks the registry:begin/end markers")
    return {m.group(1) for line in txt[b:e].splitlines()
            if (m := REG_ROW.match(line))}


def main() -> int:
    txt = open(PATH).read()
    b, e = txt.find(BEGIN), txt.find(END)
    if b < 0 or e < 0 or e <= b:
        print("BASELINE.md lacks the baseline:begin/end markers", file=sys.stderr)
        return 1
    # parse the HISTORY only (everything outside the generated block, so
    # the canonical table never feeds itself)
    history = txt[:b] + txt[e + len(END):]
    last: dict[str, float] = {}
    n_records: dict[str, int] = {}
    for line in history.splitlines():
        m = ROW.match(line)
        if m:
            last[m.group(1)] = float(m.group(2))
            n_records[m.group(1)] = n_records.get(m.group(1), 0) + 1
    names = registry()
    rows = sorted((q, sec) for q, sec in last.items() if q in names)
    total = sum(sec for _, sec in rows)
    out = [
        "",
        f"One row per query — the LAST-recorded focused sf0.1 median in the",
        f"history below (generated by `tools/gen_baseline.py`; the 2x gate",
        f"and VERDICT recomputes read THIS table). {len(rows)} queries,",
        f"summed canonical total {total:.1f} s.",
        "",
        "| query | sf | sec (canonical) | n history rows |",
        "|---|---|---|---|",
    ]
    for name, sec in rows:
        out.append(f"| {name} | 0.1 | {sec} | {n_records[name]} |")
    out.append("")
    new = txt[:b + len(BEGIN)] + "\n" + "\n".join(out) + txt[e:]
    if "--check" in sys.argv:
        if new != txt:
            print("canonical baseline table is stale — run tools/gen_baseline.py",
                  file=sys.stderr)
            return 1
        print(f"canonical table fresh: {len(rows)} queries, {total:.1f} s")
        return 0
    open(PATH, "w").write(new)
    print(f"wrote canonical table: {len(rows)} queries, {total:.1f} s total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
