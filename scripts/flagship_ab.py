"""Same-day flagship A/B: r4 code vs HEAD code x Arrow 10k vs 64k batches.

VERDICT r5 #4 asked for a bisect of the in-session 2.13 s -> 2.90 s drift:
is it (a) an engine regression between r4 and r5 code, (b) the Arrow batch
default change (10000 -> 65536), or (c) box state? This drives
scripts/flagship_ab_run.py in fresh JVMs over the 2x2 grid, INTERLEAVED
(cell order rotates every repetition) so slow box drift lands on every cell
equally. Each session reports a median-of-3 plus raw times.

r4 code = git worktree at the round-4 boundary commit (a0ab901, the driver's
"round 4: verdict" commit — code identical to the last r4 work commit).

Usage: python scripts/flagship_ab.py [reps_per_cell]
Writes BENCH/flagship_ab.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
R4_COMMIT = "a0ab901"
R4_TREE = "/tmp/r4tree"
RUNNER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "flagship_ab_run.py")


def ensure_worktree() -> None:
    if not os.path.isdir(os.path.join(R4_TREE, "mvt_wrangler_spark")):
        subprocess.run(["git", "-C", REPO, "worktree", "add",
                        "--detach", R4_TREE, R4_COMMIT], check=True)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    ensure_worktree()
    cells = [
        ("r4", R4_TREE, "10000"),
        ("r4", R4_TREE, "65536"),
        ("head", REPO, "10000"),
        ("head", REPO, "65536"),
    ]
    sessions = []
    for rep in range(reps):
        order = cells[rep % 4:] + cells[:rep % 4]  # rotate start cell
        for name, repo, batch in order:
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, RUNNER, repo, batch],
                capture_output=True, text=True, timeout=900, cwd="/tmp")
            line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if not line:
                print(f"[ab] {name}/{batch} FAILED:\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            rec = json.loads(line[-1])
            rec.update(cell=name, rep=rep, started=round(t0, 1))
            sessions.append(rec)
            print(f"[ab] rep{rep} {name}/batch={batch}: "
                  f"median {rec['median_sec']} s runs {rec['runs_sec']}",
                  file=sys.stderr)

    summary = {}
    for name, _, batch in cells:
        meds = sorted(r["median_sec"] for r in sessions
                      if r["cell"] == name and str(r["arrow_batch"]) == batch)
        if meds:
            summary[f"{name}/arrow{batch}"] = {
                "n_sessions": len(meds),
                "session_medians_sec": meds,
                "pooled_median_sec": meds[len(meds) // 2],
            }
    result = {"protocol": "fresh JVM per session, 2x2 grid interleaved "
                          "(rotating cell order), median-of-3 per session, "
                          "noop-sink, sf0.1, local[32]",
              "r4_commit": R4_COMMIT, "summary": summary,
              "sessions": sessions}
    with open(os.path.join(REPO, "BENCH", "flagship_ab.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
