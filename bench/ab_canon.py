"""A/B harness for session-wide post-extraction I/O knobs.

Runs bench/scaling.py --level <cpus> once per variant per repetition,
alternating variants within each rep so host drift hits all of them.
Each run is a fresh JVM subprocess. Prints one JSON line per run and a
best-of summary. NEVER run anything else while this measures.

A variant is a set of environment overrides; codec A/Bs go through
SPARK_GRAFT_EXTRA_CONF, which applies to the whole session. The
per-boundary canonical-parquet codec variants (v2_canon_zstd, v3_both)
are gone: that A/B was decided for the shipped snappy default (table
in bench/BASELINE.md) and the pipeline no longer takes a per-boundary
codec.

    python bench/ab_canon.py --level 16 --repeats 2
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VARIANTS = {
    "v0_base": {},
    "v1_shuffle_zstd": {"SPARK_GRAFT_EXTRA_CONF": "spark.io.compression.codec=zstd"},
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--level", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--corpus", default=os.path.join(REPO, "data", "repos_scaling_v2"))
    ap.add_argument("--variants", nargs="*", default=list(VARIANTS))
    args = ap.parse_args()

    best: dict[str, dict] = {}
    for rep in range(args.repeats):
        for name in args.variants:
            env = {**os.environ, **VARIANTS[name]}
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.join(REPO, "bench", "scaling.py"),
                    "--level", str(args.level), "--corpus", args.corpus,
                ],
                capture_output=True, text=True, cwd=REPO, env=env,
            )
            if proc.returncode != 0 or not proc.stdout.strip():
                print(
                    f"scaling.py failed (variant={name}, rc={proc.returncode}):\n"
                    f"{proc.stderr}",
                    file=sys.stderr,
                )
                sys.exit(1)
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            r["variant"] = name
            print(json.dumps(r), flush=True)
            prev = best.get(name)
            if prev is None or r["full_wall_sec"] < prev["full_wall_sec"]:
                best[name] = r
    print("# best-of summary:", file=sys.stderr)
    for name, r in sorted(best.items(), key=lambda kv: kv[1]["full_wall_sec"]):
        print(
            f"#   {name}: full {r['full_wall_sec']}s "
            f"(extract {r['extract_wall_sec']}s)",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
