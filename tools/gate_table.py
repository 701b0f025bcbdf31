#!/usr/bin/env python3
"""Generate README.md's round-gate table from the artifacts on disk.

VERDICT r12 "what's wrong" #2: the hand-maintained "last run" column
claimed rounds whose artifacts never existed. This generator derives
that column from the filesystem — for each gate it scans the repo root
for the gate's round-stamped artifact(s), takes the newest round where
EVERY required artifact exists, and renders "r{N}" (suffixed with
"(FAILED)" when the artifact records all_ok=false). A gate whose
artifacts were never produced renders "never". The static columns
(tool, bound) live here as data, so the only way to claim a run is for
the artifact to exist.

Usage:
  python3 tools/gate_table.py          # rewrite README.md in place
  python3 tools/gate_table.py --check  # exit 1 if README is stale
The table is replaced between the literal markers
  <!-- gate-table:begin --> / <!-- gate-table:end -->
GateTableSpec runs --check inside `sbt test`, so a stale or hand-edited
claim fails the suite.
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- gate-table:begin -->"
END = "<!-- gate-table:end -->"

# gate label -> (tool cell, artifact cell, bound cell, requirement)
# requirement: list of filename templates with {n}; the gate's last run
# is the max n for which ALL templates exist. None = driver/suite-run
# rows whose "last run" is a fixed string (4-tuple + fixed cell).
GATES = [
    ("Correctness vs DuckDB oracle",
     "`graft.Verify` + `tools/check_oracles.py`",
     "`CORRECTNESS_r{N}.json`",
     "172/172 rows+schema+hash",
     ["CORRECTNESS_r{n}.json"]),
    ("Bench vs baseline",
     "`graft.Bench`",
     "`BENCH_r{N}.json`, `BENCH_sf1.json`",
     "≤ 2× reference at same sf",
     ["BENCH_r{n}.json"]),
    ("sf1 bench round-over-round tripwire",
     "`tools/bench_gate.py` on the elementwise-min of ≥2 serial runs (`tools/bench_min.py`) vs the previous round's committed sf1 artifact",
     "`BENCHGATE_r{N}.json`, `BENCH_sf1_min.json`",
     "med-sum (common queries) and top-10 per-query min times ≤ 1.3× prior round, else a PLANS.md attribution; allowlist entries expire 2 rounds after their stamp",
     ["BENCHGATE_r{n}.json"]),
    ("Artifacts match HEAD (provenance)",
     "`_meta` stamp in every `ShuffleAudit` dump; `ScaleCheck audits` refuses a stale/dirty measured surface (`RepoStamp`)",
     "embedded in every audit + gate artifact",
     "measured-surface digest of both audits = HEAD's; clean tree",
     ["SCALE_r{n}.json"]),
    ("Scale transition (sf1→sf10)",
     "`graft.ShuffleAudit` ×2 + `graft.ScaleCheck audits … transition`",
     "`SCALE_r{N}.json`",
     "shuffle growth ≤ 1.4× data ratio unless attributed; spill ≤ 1 MB",
     ["SCALE_r{n}.json"]),
    ("Scale postcap (sf10→sf20)",
     "same, `… postcap` (empty allowlist)",
     "`SCALE_r{N}_postcap.json`",
     "≤ 2.8× per 2× data, no exceptions",
     ["SCALE_r{n}_postcap.json"]),
    ("Residue rung (sf20→sf40)",
     "`graft.ScaleGen` K=2 docs+embeddings, subset `ShuffleAudit` + `ScaleCheck … postcap`; answer growth attributed in r11 (`minhash_band_diag_r11.txt`)",
     "`SCALE_r{N}_sf40.json`",
     "≤ 2.8× per 2× data for the LSH/pair-mining family",
     ["SCALE_r{n}_sf40.json"]),
    ("Answers rung (sf40→sf80)",
     "same plus answer-cardinality columns (`rows`, declared `internal_rows` probes); `ScaleCheck … answers`",
     "`SCALE_r{N}_sf80.json`",
     "shuffle growth ≤ max(2.8×, 1.2× measured answer growth) — the bound derives from the audit's own answer columns, no hand-pinned constants",
     ["SCALE_r{n}_sf80.json"]),
    ("Heavy rung (sf20→sf40, non-mining)",
     "full sf40 table set at K=2; 10-query `ShuffleAudit` + `ScaleCheck … postcap`",
     "`SCALE_r{N}_sf40_heavy.json`",
     "≤ 2.8× per 2× data + state columns",
     ["SCALE_r{n}_sf40_heavy.json"]),
    ("Heavy answers rung (sf40→sf80, non-mining)",
     "full sf80 table set at K=2; 10-query `ShuffleAudit` + `ScaleCheck … answers`",
     "`SCALE_r{N}_sf80_heavy.json`",
     "≤ max(2.8×, 1.2× answer growth) per 2× data + state columns",
     ["SCALE_r{n}_sf80_heavy.json"]),
    ("Per-task state (preventive)",
     "state columns inside every `ShuffleAudit` dump, gated by ScaleCheck; deep-dive `graft.MemAudit`",
     "`shuffle_audit_sf*.json`, `MEM_r{N}.json`",
     "max single-task sort/agg/hash state ≤ 512 MB; AQE-projected ≤ 1024 MB",
     ["MEM_r{n}*.json"]),
    ("Constrained heap",
     "`graft.HeapDrill` (8 GB JVM, 8 slots)",
     "`MEMBOUND_r{N}.json`",
     "heavy family completes, no OOM, spill recorded",
     ["MEMBOUND_r{n}.json"]),
    ("Spill path executes",
     "`graft.HeapDrill spill` (4 GB JVM, 8 slots)",
     "`MEMBOUND_r{N}_spill.json`",
     "external mode ENGAGES (spill > 0), bounded ≤ 8 GB/query, wall ≤ 3× the 8 GB run, no OOM",
     ["MEMBOUND_r{n}_spill.json"]),
    ("Skew stress",
     "`graft.ScaleGen … skew` (key + window-key + token heads) + `graft.SkewDrill` (14 queries incl. q32/x25/g01/g08)",
     "`SKEW_r{N}.json`",
     "hot-key corpus: peak state ≤ 512 MB, spill ≤ 1 GB/task, wall ≤ 3× base",
     ["SKEW_r{n}.json"]),
    ("Streaming state growth",
     "`graft.StateAudit` vs keys-scaled + volume-only corpora",
     "`STATE_r{N}_scale.json` / `_volume.json`",
     "keyed state ∝ keys, FLAT on volume-only",
     ["STATE_r{n}_scale.json", "STATE_r{n}_volume.json"]),
    ("Plan-shape assertions",
     "`PlanSurfaceSpec` (in `sbt test`)", "—",
     "no cartesian, BNLJ only with provably tiny broadcast, UDF allowlist",
     None, "every round (sbt test)"),
    ("Scratch hygiene",
     "`ScratchHygieneSpec`", "—",
     "all scratch through `WorkDirs`",
     None, "every round (sbt test)"),
    ("Copy/leak checks",
     "driver-side", "`COPYCHECK.json` / `LEAKCHECK.json`",
     "empty",
     None, "every round (driver)"),
]


def all_ok_of(path):
    """all_ok field if the artifact is JSON and carries one, else None.
    CORRECTNESS/BENCH artifacts are driver-shaped (no all_ok)."""
    try:
        with open(path) as f:
            doc = json.load(f)
        if isinstance(doc, dict):
            return doc.get("all_ok")
    except (json.JSONDecodeError, OSError):
        pass
    return None


def matches(template):
    """files matching the template, as {round: [paths]}. `*` admits an
    optional _suffix (a failed artifact's fixed rerun, e.g.
    MEM_r11_postfix.json, counts as the same gate run)."""
    pat = re.compile(
        "^" + re.escape(template).replace("\\{n\\}", r"(\d+)")
        .replace("\\*", r"(?:_[A-Za-z0-9]+)?") + "$")
    out = {}
    for f in os.listdir(ROOT):
        m = pat.match(f)
        if m:
            out.setdefault(int(m.group(1)), []).append(f)
    return out


def last_run(templates):
    per = [matches(t) for t in templates]
    rounds = set(per[0])
    for p in per[1:]:
        rounds &= set(p)
    if not rounds:
        return "never"
    n = max(rounds)
    # a gate run counts as passing if, for every required template,
    # SOME artifact of round n passes (a failed run + fixed rerun is a
    # pass; all variants failing is a FAIL)
    def ok(p):
        oks = [all_ok_of(os.path.join(ROOT, f)) for f in p[n]]
        return any(o is not False for o in oks)
    suffix = "" if all(ok(p) for p in per) else " (FAILED)"
    return "r%d%s" % (n, suffix)


def render():
    lines = [BEGIN,
             "| gate | tool | artifact | bound | last run |",
             "|---|---|---|---|---|"]
    for g in GATES:
        label, tool, artifact, bound = g[0], g[1], g[2], g[3]
        cell = g[5] if g[4] is None else last_run(g[4])
        lines.append("| %s | %s | %s | %s | %s |"
                     % (label, tool, artifact, bound, cell))
    lines.append(END)
    return "\n".join(lines)


def cell_round(cell):
    """(round, failed) from a "last run" cell; (None, False) for fixed
    strings like "never" / "every round (sbt test)"."""
    m = re.match(r"^r(\d+)( \(FAILED\))?$", cell.strip())
    return (int(m.group(1)), bool(m.group(2))) if m else (None, False)


def check(committed_rows, derived_rows):
    """One-sided staleness check (VERDICT r14 #3): the driver drops
    CORRECTNESS_r{N}/BENCH_r{N} AFTER the builder's final commit, so
    artifacts NEWER than the committed table are the normal end-of-round
    state, not a lie — the table merely lags, and regenerating would
    only advance it. The lie this check exists to catch is the other
    direction: a table cell claiming a round (or a pass) its artifacts
    don't back. Static columns stay two-sided: a GATES edit without a
    regen is the table lagging the CODE, which must fail."""
    if len(committed_rows) != len(derived_rows):
        return ["row count differs: table %d vs derived %d"
                % (len(committed_rows), len(derived_rows))]
    errs = []
    for c, d in zip(committed_rows, derived_rows):
        csplit, dsplit = c.split("|"), d.split("|")
        if len(csplit) != 7 or len(dsplit) != 7:
            if c != d:
                errs.append("malformed row: %r" % c)
            continue
        if [x.strip() for x in csplit[:5]] != [x.strip() for x in dsplit[:5]]:
            errs.append("static columns drifted (regenerate): %s"
                        % csplit[1].strip())
            continue
        ccell, dcell = csplit[5].strip(), dsplit[5].strip()
        if ccell == dcell:
            continue
        crnd, cfail = cell_round(ccell)
        drnd, dfail = cell_round(dcell)
        if crnd is None or drnd is None:
            # fixed cells / "never" must match exactly; a round claim
            # with no artifact round behind it is the lie
            errs.append("%s: table says %r but artifacts say %r"
                        % (csplit[1].strip(), ccell, dcell))
        elif crnd > drnd:
            errs.append("%s: table claims r%d ahead of artifacts (r%d)"
                        % (csplit[1].strip(), crnd, drnd))
        elif crnd == drnd and dfail and not cfail:
            errs.append("%s: table claims r%d passed but the artifact "
                        "records all_ok=false" % (csplit[1].strip(), crnd))
        # else: artifacts advanced past the table — the honest direction
    return errs


def main():
    readme = os.path.join(ROOT, "README.md")
    with open(readme) as f:
        text = f.read()
    if BEGIN not in text or END not in text:
        sys.exit("README.md is missing the gate-table markers")
    new = re.sub(re.escape(BEGIN) + ".*?" + re.escape(END), render(),
                 text, flags=re.S)
    if "--check" in sys.argv:
        committed = re.search(
            re.escape(BEGIN) + "(.*?)" + re.escape(END), text, flags=re.S)
        derived = re.search(
            re.escape(BEGIN) + "(.*?)" + re.escape(END), new, flags=re.S)
        rows = lambda m: [l for l in m.group(1).splitlines()
                          if l.startswith("|") and not l.startswith("|---")
                          and not l.startswith("| gate ")]
        errs = check(rows(committed), rows(derived))
        if errs:
            for e in errs:
                sys.stderr.write("gate table: %s\n" % e)
            sys.stderr.write("run: python3 tools/gate_table.py\n")
            sys.exit(1)
        print("gate table is consistent with (or behind) the artifacts "
              "on disk")
    else:
        with open(readme, "w") as f:
            f.write(new)
        print("gate table regenerated from artifacts on disk")


if __name__ == "__main__":
    main()
