"""Bloom-prefilter soak: what the broadcast-bitmap screen is worth at
refresh scale.

Scenario: the incremental exact-dedup screen — a NEW batch of ingested
document digests checked for membership against an EXISTING corpus digest
table, where almost everything is novel (the steady-state refresh mix:
here 1% true duplicates). Two ways to screen 20M new keys against a 10M
key corpus:

- ``join``  — plain LEFT SEMI join new x corpus on the digest: BOTH
              sides shuffle in full (the corpus digests and all 20M new
              keys cross the network even though 99% of the batch matches
              nothing).
- ``bloom`` — probe a pre-built sharded Bloom bitmap (one broadcast of
              ~`shards x bits/8` bytes, zero-shuffle map pass over the
              batch), then confirm ONLY the candidates (~1% + FPR) with
              the exact semi join.

The bitmap build is timed separately: it is once-per-corpus-snapshot and
amortizes over every batch screened against that snapshot (exactly like
the persisted MinHash signature table in ``incremental_dedup``).

One JVM per variant (subprocess) so JIT/shuffle-service state can't leak
between them. Prints its BENCH_SCALING.md section to stdout.

Usage: ``python tools/bench_bloom.py`` (parent), or
``python tools/bench_bloom.py <variant>``.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_CORPUS = 10_000_000
N_NEW = 40_000_000
DUP_PCT = 1  # % of the new batch that really is in the corpus
NUM_SHARDS = 16
NUM_BITS = 1 << 23  # 2^23 bits/shard x 16 shards = 16 MiB total, ~13 bits/key
TIMEOUT_S = 600
VARIANTS = ("join", "bloom")


def frames(spark):
    from pyspark.sql import functions as F

    # corpus: 10M unique digests; new: 20M keys, 1% sampled from corpus
    corpus = (
        spark.range(N_CORPUS)
        .select(F.md5(F.concat(F.lit("c:"), F.col("id").cast("string"))).alias("digest"))
        .repartition(32)
        .persist()
    )
    is_dup = F.pmod(F.xxhash64("id"), F.lit(100)) < DUP_PCT
    new = (
        spark.range(N_NEW)
        .select(
            F.col("id"),
            F.md5(
                F.concat(
                    F.when(is_dup, F.lit("c:")).otherwise(F.lit("n:")),
                    F.pmod(F.col("id"), F.lit(N_CORPUS)).cast("string"),
                )
            ).alias("digest"),
        )
        .drop("id")
        .repartition(32)
        .persist()
    )
    corpus.count(), new.count()
    return corpus, new


def run_variant(which: str) -> None:
    from project_bigdata_spark.operators import dedup as DD
    from project_bigdata_spark.session import get_spark
    from pyspark.sql import functions as F

    # fresh subprocess -> the JVM hasn't launched yet, so driver memory
    # is still settable; 30M generated rows need more than the 1g default
    spark = get_spark(
        app_name=f"bench-bloom-{which}",
        extra_conf={"spark.driver.memory": "8g"},
    )
    corpus, new = frames(spark)
    build_s = 0.0
    if which == "join":
        t0 = time.perf_counter()
        n_dups = new.join(corpus, on="digest", how="left_semi").count()
        screen_s = time.perf_counter() - t0
    else:
        t0 = time.perf_counter()
        bloom = DD.bloom_build(
            corpus, "digest", num_bits=NUM_BITS, num_shards=NUM_SHARDS
        ).persist()
        bloom.count()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        cand = DD.bloom_probe(
            new,
            bloom,
            F.col("digest"),
            num_bits=NUM_BITS,
            num_shards=NUM_SHARDS,
        ).filter("bloom_hit")
        n_dups = cand.join(corpus, on="digest", how="left_semi").count()
        screen_s = time.perf_counter() - t0
        # untimed: how many batch rows survived the bitmap (dups + FPs) —
        # the exact-join input the prefilter shrinks the batch down to
        n_cand = cand.count()
        print(f"BLOOMCAND {n_cand}", flush=True)
    print(f"BLOOMRESULT {which} {n_dups} {screen_s:.2f} {build_s:.2f}", flush=True)


def main() -> None:
    from project_bigdata_spark.session import DEFAULT_CPUS

    results: dict[str, tuple[str, str]] = {}
    n_cand = 0
    for which in VARIANTS:
        try:
            proc = subprocess.run(
                [sys.executable, __file__, which],
                capture_output=True,
                text=True,
                timeout=TIMEOUT_S,
            )
            line = next(
                (l for l in proc.stdout.splitlines() if l.startswith("BLOOMRESULT")),
                None,
            )
            cand_line = next(
                (l for l in proc.stdout.splitlines() if l.startswith("BLOOMCAND")),
                None,
            )
            if cand_line:
                n_cand = int(cand_line.split()[1])
            if line:
                _, _, nd, screen, build = line.split()
                results[which] = (
                    f"{float(screen):.2f}s ({int(nd):,} dups confirmed)",
                    f"{float(build):.2f}s" if float(build) else "—",
                )
            else:
                results[which] = (f"FAILED (exit {proc.returncode})", "—")
        except subprocess.TimeoutExpired:
            results[which] = (f"TIMEOUT ({TIMEOUT_S}s)", "—")
        print(f"{which}: {results[which]}", file=sys.stderr)

    total_mib = NUM_SHARDS * NUM_BITS / 8 / (1 << 20)
    section_lines = [
        "## Bloom prefilter soak (`tools/bench_bloom.py`)",
        "",
        f"{N_NEW // 10**6}M-key new batch screened against a "
        f"{N_CORPUS // 10**6}M-digest corpus, {DUP_PCT}% true duplicates "
        "(the steady-state refresh mix). One JVM per variant, "
        f"local[{DEFAULT_CPUS}]:",
        "",
        "| variant | screen per batch | corpus-side build (amortized) | |",
        "|---|---|---|---|",
        f"| plain LEFT SEMI join | {results['join'][0]} | — | "
        f"all {N_NEW // 10**6}M new keys + {N_CORPUS // 10**6}M corpus "
        "digests shuffle |",
        f"| `bloom_probe` + confirm join | {results['bloom'][0]} | "
        f"{results['bloom'][1]} | probe is a zero-shuffle map against "
        f"{total_mib:.0f} MiB of broadcast bitmaps ({NUM_SHARDS} shards); "
        f"{n_cand:,} candidate rows "
        f"({100.0 * n_cand / N_NEW:.2f}% of the batch) reach the exact "
        "join |",
        "",
        "Same exact answer from both (the bitmap has no false negatives "
        "and the confirm join removes false positives). Wall-clock on ONE "
        "box is honest parity-to-slightly-slower: local 'shuffle' is NVMe, "
        "so trading a 40M-row sort-exchange for 40M bitmap probes breaks "
        "even. What the measurement pins is the JOIN INPUT: ~99% of the "
        "batch never reaches the exchange. On a 1000-executor cluster "
        "those are cross-rack network bytes — the shuffle the probe "
        "deletes — and the corpus side co-locates by bucketing the "
        "persisted digest table on digest, leaving the probe as the only "
        "full-batch pass. The build is per corpus snapshot; at 10^9+ "
        "corpus keys, raise `num_shards` so each bitmap row stays "
        "broadcastable.",
    ]
    print("\n".join(section_lines))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        run_variant(sys.argv[1])
    else:
        main()
