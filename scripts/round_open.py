#!/usr/bin/env python3
"""Mechanical round-open: redact driver-regenerated artifacts and commit them.

Rounds 10-12 each opened with a red ArtifactRedactionSpec because the driver
regenerates LEAKCHECK.json / BENCH_r{N}.json / CORRECTNESS_r{N}.json AFTER the
builder's final commit of the previous round, and redaction ran as a habit
rather than a gate. This script makes the remedy the FIRST action of every
round, as one command:

    python3 scripts/round_open.py

Steps:
  1. run scripts/redact_artifacts.py over the working tree (exits non-zero if
     any redaction would corrupt a .json artifact — fix by hand, re-run);
  2. re-scan every artifact with the same shape patterns ArtifactRedactionSpec
     uses and REFUSE to commit while any hit remains;
  3. stage exactly the driver-artifact set (LEAKCHECK.json, BENCH_FULL.json,
     COPYCHECK.json, BENCH_r*.json, CORRECTNESS_r*.json, VERDICT.md, ADVICE.md,
     BASELINE.md) — never source files, so a dirty tree can't smuggle code into
     the hygiene commit;
  4. commit if anything is staged (no-op exit 0 on a clean tree).

Idempotent: safe to run when the driver regenerated nothing.
"""
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

# Same shapes as ArtifactRedactionSpec / redact_artifacts.py — never a
# sensitive literal ("artifactory" alone is the public product name).
PATTERNS = [
    re.compile(r"[a-z0-9.-]*artifactory[a-z0-9.-]*\.[a-z]{2,6}"),
    re.compile(r'(?:\\)*"artifactory(?:\\)*"\s*\+\s*(?:\\)*"\.[a-z0-9.-]+'),
]

ARTIFACT_GLOBS = [
    "LEAKCHECK.json", "BENCH_FULL.json", "BENCH_PARTIAL.json",
    "COPYCHECK.json", "VERDICT.md", "ADVICE.md", "BASELINE.md",
    "BENCH_r*.json", "CORRECTNESS_r*.json",
]


def artifact_files():
    seen = []
    for pat in ARTIFACT_GLOBS:
        for p in sorted(ROOT.glob(pat)):
            if p.is_file() and p not in seen:
                seen.append(p)
    return seen


def main():
    rc = subprocess.call([sys.executable, str(ROOT / "scripts/redact_artifacts.py")])
    if rc != 0:
        print("round_open: redact_artifacts.py refused a file — fix by hand, re-run",
              file=sys.stderr)
        return rc

    offenders = []
    for p in artifact_files():
        text = p.read_text(errors="replace")
        for rx in PATTERNS:
            m = rx.search(text)
            if m:
                offenders.append(f"{p.name}: ...{m.group()[:40]}...")
    if offenders:
        print("round_open: REFUSING to commit — un-redacted hits remain:\n"
              + "\n".join(offenders), file=sys.stderr)
        return 1

    paths = [str(p) for p in artifact_files()]
    subprocess.check_call(["git", "add", "--"] + paths, cwd=ROOT)
    # diff and commit only the artifact paths: anything else already staged
    # stays staged and out of this commit
    staged = subprocess.run(["git", "diff", "--cached", "--quiet", "--"] + paths,
                            cwd=ROOT)
    if staged.returncode == 0:
        print("round_open: nothing to commit (artifacts already clean + committed)")
        return 0
    subprocess.check_call(
        ["git", "commit", "-m",
         "Round open: commit driver artifacts redacted\n\n"
         "Mechanical first action of the round (scripts/round_open.py): mask\n"
         "adjudicated mirror-hostname quotes in regenerated artifacts and\n"
         "commit them so ArtifactRedactionSpec is green at the open commit.",
         "--"] + paths,
        cwd=ROOT)
    return 0


if __name__ == "__main__":
    sys.exit(main())
