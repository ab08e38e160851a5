#!/usr/bin/env python3
"""Crash-restart chaos harness (round 18, VERDICT item 5).

ArtifactGateSpec kills individual builders at injected fault points and
the thread hammer races concurrent installers, but nothing ever killed
the WHOLE JVM mid-Verify and re-ran cold — the scenario every real
cluster hits (preemption, OOM-killer, spot reclaim). This harness:

  1. runs one clean Verify end-to-end and times it (T);
  2. for each kill fraction f: starts a fresh Verify, SIGKILLs the
     JVM at f*T (landing in session startup / early queries / the
     artifact-build region / dump writes / near-completion — Verify
     executes queries in sorted order, so fractions map to stable
     phases), then immediately re-runs Verify to completion and gates
     it with tools/local_verify.py;
  3. after every cycle, inventories crash residue in the shared
     artifact root (java.io.tmpdir): `.stage.<uuid>` / `.trash.<uuid>`
     orphans and half-written dump dirs, asserting the residue set
     does not GROW across cycles (each recovery must tolerate — not
     compound — the previous crash's litter).

Optionally (--clear-artifacts) the rebuildable content-keyed artifact
caches for this fixture fingerprint are deleted first so some kills
land DURING artifact builds (steady-state artifacts are read-only and
a kill there exercises nothing). Only rebuildable caches are touched.
Do NOT run concurrently with the edge sweep or a bench anchor: the
kill can strand a sweep reader mid-artifact and the load poisons any
measurement.

Usage:
    python3 tools/chaos_restart.py [sfDir] [--clear-artifacts]
Exit 0 iff every recovery run is ALL GREEN with full counts and
residue never grows.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = "/tmp"
WORK = "/tmp/chaos_restart"
KILL_FRACS = [0.05, 0.15, 0.30, 0.50, 0.70, 0.85, 0.95]
# rebuildable content-keyed caches (StagedArtifact/Materialize
# families) — safe to clear, every Verify rebuilds them on demand
CLEARABLE = ("graft_pairs_v", "graft_comps_v", "graft_ivf_v",
             "graft_q93_idx_v", "graft_q99_dpp_v")


# residue scan is scoped to the repo's own artifact families — an
# unrelated concurrent process creating /tmp/*.stage.* entries must
# not fail the harness (r18 advice). The scope IS the shared "graft_"
# namespace (every repo artifact path starts with it), deliberately
# wider than CLEARABLE so residue from a family this list doesn't know
# yet still fails loudly; the single prefix states that plainly
# instead of an allowlist whose last entry subsumed the rest (r19
# ADVICE).
RESIDUE_PREFIXES = ("graft_",)


def residues():
    """Orphaned stage/trash dirs beside any shared artifact path."""
    out = []
    for n in os.listdir(TMP):
        if ((".stage." in n or ".trash." in n)
                and n.startswith(RESIDUE_PREFIXES)):
            out.append(n)
    return sorted(out)


def run_verify(sf, outdir, kill_after=None):
    """Run Verify via spark_java (the out-of-sbt launcher). Returns
    (returncode_or_None_if_killed, last_stdout_line)."""
    shutil.rmtree(outdir, ignore_errors=True)
    p = subprocess.Popen(
        ["bash", "tools/spark_java.sh", "graft.Verify", sf, outdir],
        cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True,
        # the JVM must die WITH the wrapper shell: SIGKILL to the
        # shell alone would orphan it
        preexec_fn=os.setsid)
    if kill_after is not None:
        time.sleep(kill_after)
        if p.poll() is None:
            os.killpg(os.getpgid(p.pid), 9)
            p.wait()
            return None, ""
    out, _ = p.communicate()
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    return p.returncode, (lines[-1] if lines else "")


def gate(sf, outdir):
    """The same DuckDB compare the driver uses."""
    r = subprocess.run([sys.executable, "tools/local_verify.py", outdir, sf],
                       cwd=ROOT, capture_output=True, text=True)
    green = "ALL GREEN" in r.stdout
    return green, r.stdout.strip().splitlines()[-5:]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args else "/root/testdata/sf0.01"
    if "--clear-artifacts" in sys.argv:
        for n in os.listdir(TMP):
            if n.startswith(CLEARABLE):
                shutil.rmtree(os.path.join(TMP, n), ignore_errors=True)
        print("[chaos] cleared rebuildable artifact caches")
    os.makedirs(WORK, exist_ok=True)

    t0 = time.time()
    rc, last = run_verify(sf, os.path.join(WORK, "clean"))
    T = time.time() - t0
    print(f"[chaos] clean run: rc={rc} {last} T={T:.1f}s")
    if rc != 0:
        print("[chaos] clean run failed — fix that before injecting crashes")
        return 1

    failures = []
    base_res = residues()
    print(f"[chaos] baseline residue ({len(base_res)}): {base_res}")
    for i, f in enumerate(KILL_FRACS, 1):
        delay = max(1.0, f * T)
        print(f"[chaos] cycle {i}/{len(KILL_FRACS)}: SIGKILL at "
              f"{delay:.1f}s ({int(f*100)}% of T)")
        out_kill = os.path.join(WORK, f"kill{i}")
        rc_k, _ = run_verify(sf, out_kill, kill_after=delay)
        if rc_k is not None:
            print(f"[chaos]   run finished (rc={rc_k}) before the kill "
                  "landed — treating as a no-crash cycle")
        # recovery: same outDir as the killed run (half-written dumps
        # must be overwritten, not dodged)
        rc_r, last_r = run_verify(sf, out_kill)
        ok_counts = False
        try:
            c = json.loads(re.sub(r"^\[verify\]\s*", "", last_r))
            ok_counts = (c.get("n_registered") == c.get("n_dumped")
                         and c.get("n_registered", 0) > 0)
        except (ValueError, AttributeError):
            pass
        green, tail = gate(sf, out_kill)
        res = residues()
        grew = [r for r in res if r not in base_res]
        print(f"[chaos]   recovery rc={rc_r} counts_ok={ok_counts} "
              f"gate_green={green} residue_new={grew}")
        if rc_r != 0 or not ok_counts or not green or grew:
            failures.append((i, f, rc_r, ok_counts, green, grew, tail))
        # rebase in BOTH directions: residue may legitimately SHRINK
        # (recovery sweeps trash — drop reclaimed entries so a one-time
        # reclaim isn't double-counted), and a leaked entry already
        # counted as a failure above must count ONCE, not re-fail every
        # later cycle (r18 advice)
        base_res = res

    if failures:
        print(f"\n[chaos] {len(failures)} FAILING cycle(s):")
        for c in failures:
            print("  cycle %d (%.0f%%): rc=%s counts_ok=%s green=%s new_residue=%s"
                  % (c[0], c[1] * 100, c[2], c[3], c[4], c[5]))
            for ln in c[6]:
                print("   |", ln)
        return 1
    print(f"\n[chaos] ALL CLEAN: {len(KILL_FRACS)} kill/recover cycles, "
          "every recovery ALL GREEN with full counts and no residue growth")
    return 0


if __name__ == "__main__":
    sys.exit(main())
