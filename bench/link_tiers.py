"""Linking tier crossover: wall of `linking.alias_pairs` on the driver
tier vs the Spark tier, by name-dictionary size.

Sets `linking.LINK_DRIVER_NAMES`. Each sample runs in a fresh JVM (a
subprocess), on an adversarial vocabulary: every name joins 2-4 of 24
common identifier words in a random case style, so normal forms collide
and gram prefix lists are long, the driver tier's worst case. A sample
writes the names to parquet, warms the session with one scan, then times
`alias_pairs(names)` written to parquet, as the `20_link` stage does,
with `LINK_DRIVER_NAMES` set to the size (driver tier) or 0 (Spark
tier), and records the driver process's peak RSS. Samples alternate
tiers; both tiers' outputs must be equal (row count and md5 of the
sorted rows), or the run fails. A sample that runs past --timeout is
stopped (its whole process group) and reported as "> timeout".

    python bench/link_tiers.py                          # 2k 5k 10k 20k, 2 repeats
    python bench/link_tiers.py --sizes 40000 80000 --repeats 1 --timeout 1000
    python bench/link_tiers.py --sample 5000 driver     # one sample (JSON line)

Prints one JSON line per sample and a markdown table at the end.
NEVER run anything else on the machine while this measures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORDS = [
    "get", "set", "data", "value", "list", "item", "user", "name",
    "file", "path", "config", "manager", "handler", "service", "client",
    "server", "request", "response", "buffer", "stream", "reader",
    "writer", "factory", "builder",
]


def vocabulary(n: int, seed: int = 7) -> list[str]:
    """n distinct names, each 2-4 WORDS in CamelCase, snake_case or
    lowerCamel."""
    rng = random.Random(seed)
    out: set[str] = set()
    while len(out) < n:
        ws = rng.choices(WORDS, k=rng.randint(2, 4))
        style = rng.randrange(3)
        if style == 0:
            out.add("".join(w.capitalize() for w in ws))
        elif style == 1:
            out.add("_".join(ws))
        else:
            out.add(ws[0] + "".join(w.capitalize() for w in ws[1:]))
    return sorted(out)


def sample(n: int, tier: str) -> dict:
    from datacapsule_spark import linking
    from datacapsule_spark.session import get_spark

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark = get_spark("link-tiers", master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "names.parquet")
        pq.write_table(pa.table({"name": vocabulary(n)}), src)
        names = spark.read.parquet(src)
        names.count()  # session warm-up, not timed
        t0 = time.perf_counter()
        out = os.path.join(tmp, "link")
        linking.LINK_DRIVER_NAMES = n if tier == "driver" else 0
        linking.alias_pairs(names).write.parquet(out)
        wall = time.perf_counter() - t0
        rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    spark.stop()
    md5 = hashlib.md5(repr(rows).encode()).hexdigest()
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return {"names": n, "tier": tier, "wall_s": round(wall, 3), "pairs": len(rows),
            "md5": md5, "driver_rss_mb": round(rss_mb)}


def run_sample(n: int, tier: str, timeout: float | None) -> dict:
    """One sample in a fresh process; on timeout its process group (the
    JVM included) is killed and its temp files removed."""
    tmp = tempfile.mkdtemp(prefix="link_tiers_")
    proc = subprocess.Popen(
        [sys.executable, __file__, "--sample", str(n), tier],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
        env={**os.environ, "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp},
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {"names": n, "tier": tier, "wall_s": None, "timeout_s": timeout}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode:
        sys.exit(f"sample {n} {tier} failed (exit {proc.returncode})")
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[2000, 5000, 10000, 20000])
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--timeout", type=float, help="seconds per sample")
    ap.add_argument("--sample", nargs=2, metavar=("NAMES", "TIER"))
    args = ap.parse_args()
    if args.sample:
        print(json.dumps(sample(int(args.sample[0]), args.sample[1])))
        return

    results: dict[tuple[int, str], list[dict]] = {}
    for n in args.sizes:
        for rep in range(args.repeats):
            tiers = ("driver", "spark") if rep % 2 == 0 else ("spark", "driver")
            for tier in tiers:
                r = run_sample(n, tier, args.timeout)
                print(json.dumps(r), flush=True)
                results.setdefault((n, tier), []).append(r)
        done = [r for t in ("driver", "spark") for r in results[(n, t)] if r["wall_s"] is not None]
        if len({(r["pairs"], r["md5"]) for r in done}) > 1:
            sys.exit(f"tiers disagree at {n} names: {done}")

    def cell(rs: list[dict]) -> str:
        done = [r["wall_s"] for r in rs if r["wall_s"] is not None]
        return f"{statistics.median(done):.2f}" if done else f"> {rs[0]['timeout_s']:.0f}"

    print("\n| names | pairs | driver tier (s) | Spark tier (s) | driver peak RSS (MB) |")
    print("|---|---|---|---|---|")
    for n in args.sizes:
        done = [r for t in ("driver", "spark") for r in results[(n, t)] if r["wall_s"] is not None]
        pairs = done[0]["pairs"] if done else "?"
        rss = max((r["driver_rss_mb"] for r in done if r["tier"] == "driver"), default="?")
        print(f"| {n} | {pairs} | {cell(results[(n, 'driver')])} | {cell(results[(n, 'spark')])} | {rss} |")


if __name__ == "__main__":
    main()
