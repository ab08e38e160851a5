#!/usr/bin/env python3
"""Degenerate-input sweep: every graded query × every edge fixture
variant, through the UNCHANGED Verify + DuckDB gate (round 13).

Motivation: the driver's correctness gate only ever runs well-populated
fixtures, so until r13 none of the 113 graded queries had executed
against an empty table, an all-null optional column, or a single row —
shapes that are routine at 100 TB (an empty nightly slice, a corpus
drop with a dead field). The first run of this sweep found 10 distinct
engine defects/divergences (see SCALING.md "Round-13 edge sweep").

What it does, per variant (mixed / skew / empty / onerow / nulls /
extremes / unicode — the authoritative list is VARIANTS below; `mixed`
is the REAL sf0.001 tables with every degenerate row woven in,
exercising the interactions the tiny variants can't — a null text
inside a real LSH corpus, a ragged or zero vector among real 64-dim
embeddings; `skew` (r14) is the REAL tables plus one hot key per table
— 50% of events on one user, 33% of orders on one customer, a
500-line order fanout, an identical-document clique and an
identical-embedding pile — the routine 100-TB distribution no other
variant exercises):
  1. regenerate the variant via tools/edge_fixtures.py
  2. clear <work>/tmp/graft_q72_files (q72's deterministic shared export
     dir is keyed to fixture CONTENT by design; across VARIANTS it must
     be reset or the binary round trip reads the previous variant's
     files)
  3. run graft.Verify over the variant (all 113 queries), its JVM's
     java.io.tmpdir set to <work>/tmp
  4. run tools/local_verify.py (same DuckDB compare the driver uses)
  5. reinterpret exactly ONE expected case: an ALLOWLISTED rows-only
     query (q30_simhash only) returning 0 rows on the EMPTY variant is
     the correct degenerate outcome, not a failure. The allowlist
     applies to the empty variant ONLY: a rows-only zero on any other
     variant always fails (real input rows make an empty result a
     defect for every query, allowlisted or not), and an unlisted
     rows-only zero on empty fails until deliberately added to
     ROWS_ONLY_EMPTY_OK (r14 review: the doc used to send the
     non-empty case to the allowlist, which does nothing there)

Exit 0 iff every variant is green under that reading.

Usage: python3 tools/edge_sweep.py [work_root]   (default /tmp/edge_sweep)
"""
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = sys.argv[1] if len(sys.argv) > 1 else "/tmp/edge_sweep"
VARIANTS = ["mixed", "skew", "empty", "onerow", "nulls", "nullkeys",
            "nulltime", "jsonhostile", "dupdims", "dupfacts", "emptystr",
            "extremes", "unicode", "naninf", "whitespace", "orphans",
            "liar", "canon"]
# The sweep's EXIT CONTRACT (r15, VERDICT item 6): the standing green
# claim is "18 variants × 113 queries", so the variant set itself is
# part of the contract — a future edit that drops a variant from
# VARIANTS, or a fixture-generator change that silently stops writing
# one, must fail the sweep loudly instead of shrinking the claim.
# Deliberately a SECOND copy of the list: changing the sweep's scope
# requires touching both, i.e. it cannot happen by accident.
CONTRACT_VARIANTS = frozenset(
    ["mixed", "skew", "empty", "onerow", "nulls", "nullkeys", "nulltime",
     "jsonhostile", "dupdims", "dupfacts", "emptystr", "extremes",
     "unicode", "naninf", "whitespace", "orphans", "liar", "canon"])
CONTRACT_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]
# Verify's JVM runs with java.io.tmpdir under the work root, so q72's
# files (graft.Scratch.shared("q72_files"), which its DuckDB oracle
# reads back) land in a directory this script knows and clears before
# each variant, whatever the host's default tmpdir is.
TMP = os.path.join(os.path.abspath(WORK), "tmp")
Q72_DIR = os.path.join(TMP, "graft_q72_files")
# rows-only queries allowed to return 0 rows on the EMPTY variant, by
# name: q30's banded self-join legitimately finds no pairs in no docs
# (its hashes are hash-graded via q50). A FUTURE rows-only query that
# wrongly empties out must fail here until deliberately listed (r13
# review: the old exemption covered ANY rows-only zero on empty).
ROWS_ONLY_EMPTY_OK = {"q30_simhash"}


def run(cmd, **kw):
    print("+", " ".join(cmd), flush=True)
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, **kw)


def main():
    fixdir = os.path.join(WORK, "fixtures")
    r = run([sys.executable, "tools/edge_fixtures.py", fixdir])
    if r.returncode != 0:
        print(r.stdout, r.stderr)
        return 1
    # exit-contract check BEFORE any variant runs: the sweep must
    # cover exactly CONTRACT_VARIANTS, and every variant dir must hold
    # all ten tables — a missing dir/table means the generator and the
    # claim have drifted apart.
    if set(VARIANTS) != CONTRACT_VARIANTS:
        print("EDGE SWEEP CONTRACT VIOLATION: VARIANTS=%s != contract=%s"
              % (sorted(VARIANTS), sorted(CONTRACT_VARIANTS)))
        return 1
    missing = [
        os.path.join(v, t + ".parquet")
        for v in VARIANTS for t in CONTRACT_TABLES
        if not os.path.exists(os.path.join(fixdir, v, t + ".parquet"))]
    if missing:
        print("EDGE SWEEP CONTRACT VIOLATION: generator did not produce: %s"
              % ", ".join(missing))
        return 1
    failures = {}
    for v in VARIANTS:
        vdir = os.path.join(fixdir, v)
        outdir = os.path.join(WORK, "out", v)
        shutil.rmtree(outdir, ignore_errors=True)
        shutil.rmtree(Q72_DIR, ignore_errors=True)
        os.makedirs(TMP, exist_ok=True)
        r = run(["bash", "tools/spark_java.sh", "-Djava.io.tmpdir=" + TMP,
                 "graft.Verify", vdir, outdir])
        sys.stdout.write("".join(
            ln + "\n" for ln in (r.stdout + r.stderr).splitlines()
            if ln.startswith("[verify]")))
        if r.returncode != 0:
            failures[v] = ["verify exited %d (thrown query builders?)" % r.returncode]
            continue
        c = run([sys.executable, "tools/local_verify.py", outdir, vdir])
        bad = []
        # a compare step that CRASHED (import error, bad dir, partial
        # traceback) prints few or no per-query lines — scraping stdout
        # alone would read that as GREEN. Nonzero exit is only excusable
        # when the scrape itself explains it (the q30-on-empty case
        # handled below); anything else fails the variant loudly.
        if c.returncode != 0 and "FAILURES:" not in c.stdout:
            bad.append("local_verify exited %d without a failure report: %s"
                       % (c.returncode, (c.stderr or c.stdout).strip()[-300:]))
        for ln in c.stdout.splitlines():
            m = re.match(r"^(\w+): (FAIL|MISSING|NO SPARK|ORACLE ERROR|DECIMAL)", ln)
            if m:
                bad.append(ln)
            m0 = re.match(r"^(\w+): rows-only \(no oracle\) spark_rows=0$", ln)
            if m0 and (v != "empty" or m0.group(1) not in ROWS_ONLY_EMPTY_OK):
                why = ("rows-only ZERO on non-empty input" if v != "empty"
                       else "rows-only ZERO on empty, not in ROWS_ONLY_EMPTY_OK")
                bad.append(ln + "  (%s)" % why)
        if bad:
            failures[v] = bad
        print(f"[{v}] {'GREEN' if not bad else 'FAIL'}")
    if failures:
        print("\nEDGE SWEEP FAILURES:")
        for v, lines in failures.items():
            for ln in lines:
                print(f"  {v}: {ln}")
        return 1
    print("\nEDGE SWEEP ALL GREEN (%d variants x 113 queries)" % len(VARIANTS))
    return 0


if __name__ == "__main__":
    sys.exit(main())
